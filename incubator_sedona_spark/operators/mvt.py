"""Mapbox Vector Tile (MVT 2.1) encoding — pure Python, no protobuf dep.

The standard vector-tile wire format (the PostGIS ``ST_AsMVT`` /
``ST_AsMVTGeom`` surface; the reference's viz stack rasterizes only —
SURVEY.md §2.10 — so this closes the vector half of the tile sink).  The
spec is public (github.com/mapbox/vector-tile-spec, 2.1): a protobuf
``Tile`` message of layers; each layer carries integer-grid features with
zigzag-delta-encoded geometry command streams.

Implemented from the spec directly:

- protobuf wire primitives (varint, zigzag, length-delimited fields) —
  golden-tested against the canonical examples (zigzag(-1)=1, varint
  300 = 0xAC 0x02);
- geometry command integers ``(id & 0x7) | (count << 3)`` with
  MoveTo=1 / LineTo=2 / ClosePath=7 — golden-tested against the spec's
  own worked example streams (§4.3.5: MoveTo(25,17) -> [9, 50, 34]);
- layer framing (version=2, name, extent, keys/values tables with
  deduplication, feature tags) — structurally verified by a bundled
  minimal decoder (``decode_mvt``) plus the primitive goldens, which
  break encoder/decoder circularity at the byte level.

Spark side: ``mvt_tiles_df`` groups per-tile features with
``applyInPandas`` and emits one ``(tile_x, tile_y, mvt binary)`` row per
tile — the tile is the natural output unit (a serving store ingests tiles,
not features), and at 100 TB the groupBy shuffles attribute rows once,
keyed by the same tile ids the raster path uses.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, functions as F

MOVE_TO, LINE_TO, CLOSE_PATH = 1, 2, 7
GEOM_POINT, GEOM_LINESTRING, GEOM_POLYGON = 1, 2, 3
_INTEGRAL_TYPES = {"tinyint", "smallint", "int", "bigint"}


# -- protobuf wire primitives --------------------------------------------------

def varint(n: int) -> bytes:
    if n < 0:
        raise ValueError("varint encodes non-negative ints; zigzag first")
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def zigzag(n: int) -> int:
    return (n << 1) ^ (n >> 63) if n < 0 else n << 1


def unzigzag(n: int) -> int:
    return (n >> 1) ^ -(n & 1)


def _key(field: int, wire: int) -> bytes:
    return varint((field << 3) | wire)


def _len_field(field: int, payload: bytes) -> bytes:
    return _key(field, 2) + varint(len(payload)) + payload


def _varint_field(field: int, n: int) -> bytes:
    return _key(field, 0) + varint(n)


def _packed(field: int, ints: list[int]) -> bytes:
    return _len_field(field, b"".join(varint(i) for i in ints))


# -- geometry command streams (spec §4.3) -------------------------------------

def command(cmd_id: int, count: int) -> int:
    return (cmd_id & 0x7) | (count << 3)


def encode_geometry(geom_type: int, parts: list[list[tuple[int, int]]]) -> list[int]:
    """Command stream for integer tile coordinates.

    ``parts``: rings for polygons (closing vertex OMITTED — ClosePath
    implies it, per spec), paths for linestrings, a single list for
    (multi)points.  Cursor deltas carry across parts (spec §4.3.3).
    """
    out: list[int] = []
    cx = cy = 0
    if geom_type == GEOM_POINT:
        pts = parts[0]
        out.append(command(MOVE_TO, len(pts)))
        for x, y in pts:
            out += [zigzag(x - cx), zigzag(y - cy)]
            cx, cy = x, y
        return out
    for part in parts:
        if len(part) < 2:
            raise ValueError("line/ring parts need >= 2 vertices")
        out.append(command(MOVE_TO, 1))
        x0, y0 = part[0]
        out += [zigzag(x0 - cx), zigzag(y0 - cy)]
        cx, cy = x0, y0
        out.append(command(LINE_TO, len(part) - 1))
        for x, y in part[1:]:
            out += [zigzag(x - cx), zigzag(y - cy)]
            cx, cy = x, y
        if geom_type == GEOM_POLYGON:
            out.append(command(CLOSE_PATH, 1))
    return out


# -- value table (spec §4.1) ---------------------------------------------------

def _encode_value(v) -> bytes:
    import struct as _struct

    if isinstance(v, bool):
        return _key(7, 0) + varint(1 if v else 0)
    if isinstance(v, int):
        return _key(6, 0) + varint(zigzag(v))  # sint_value
    if isinstance(v, float):
        return _key(3, 1) + _struct.pack("<d", v)
    if isinstance(v, str):
        return _len_field(1, v.encode("utf-8"))
    raise TypeError(f"unsupported MVT property type {type(v).__name__}")


def encode_mvt_layer(
    name: str,
    features: list[dict],
    extent: int = 4096,
) -> bytes:
    """One layer message.  Each feature dict: ``{"type": GEOM_*, "parts":
    [[(x,y),...],...], "properties": {str: str|int|float|bool}, "id": int?}``.
    Keys/values are deduplicated into the layer tables (spec §4.4)."""
    keys: list[str] = []
    vals: list[bytes] = []
    kidx: dict[str, int] = {}
    vidx: dict[bytes, int] = {}
    feats = b""
    for f in features:
        tags: list[int] = []
        for k, v in (f.get("properties") or {}).items():
            if k not in kidx:
                kidx[k] = len(keys)
                keys.append(k)
            ev = _encode_value(v)
            if ev not in vidx:
                vidx[ev] = len(vals)
                vals.append(ev)
            tags += [kidx[k], vidx[ev]]
        body = b""
        if "id" in f:
            body += _varint_field(1, f["id"])
        if tags:
            body += _packed(2, tags)
        body += _varint_field(3, f["type"])
        body += _packed(4, encode_geometry(f["type"], f["parts"]))
        feats += _len_field(2, body)
    layer = _len_field(1, name.encode("utf-8"))
    layer += feats
    layer += b"".join(_len_field(3, k.encode("utf-8")) for k in keys)
    layer += b"".join(_len_field(4, v) for v in vals)
    layer += _varint_field(5, extent)
    layer += _varint_field(15, 2)  # version
    return _len_field(3, layer)  # Tile.layers is field 3


# -- minimal decoder (verification aid) ---------------------------------------

def _read_varint(buf: bytes, i: int) -> tuple[int, int]:
    n = shift = 0
    while True:
        b = buf[i]
        i += 1
        n |= (b & 0x7F) << shift
        if not b & 0x80:
            return n, i
        shift += 7


def decode_mvt(buf: bytes) -> dict:
    """Parse layers back out (names, extent, features with decoded command
    streams and properties) — the structural check for the encoder."""
    import struct as _struct

    out: dict = {}
    i = 0
    while i < len(buf):
        tag, i = _read_varint(buf, i)
        if tag >> 3 != 3:
            raise ValueError(f"unexpected top-level field {tag >> 3}")
        ln, i = _read_varint(buf, i)
        layer_buf, i = buf[i:i + ln], i + ln
        layer = {"features": [], "keys": [], "values": [], "extent": 4096}
        j = 0
        while j < len(layer_buf):
            t, j = _read_varint(layer_buf, j)
            field, wire = t >> 3, t & 0x7
            if wire == 0:
                v, j = _read_varint(layer_buf, j)
                if field == 5:
                    layer["extent"] = v
                elif field == 15:
                    layer["version"] = v
            elif wire == 2:
                ln2, j = _read_varint(layer_buf, j)
                payload, j = layer_buf[j:j + ln2], j + ln2
                if field == 1:
                    layer["name"] = payload.decode("utf-8")
                elif field == 3:
                    layer["keys"].append(payload.decode("utf-8"))
                elif field == 4:
                    k = 0
                    t2, k = _read_varint(payload, k)
                    f2, w2 = t2 >> 3, t2 & 0x7
                    if f2 == 1:
                        ln3, k = _read_varint(payload, k)
                        layer["values"].append(payload[k:k + ln3].decode())
                    elif f2 == 3:
                        layer["values"].append(
                            _struct.unpack("<d", payload[k:k + 8])[0]
                        )
                    elif f2 == 6:
                        v3, k = _read_varint(payload, k)
                        layer["values"].append(unzigzag(v3))
                    elif f2 == 7:
                        v3, k = _read_varint(payload, k)
                        layer["values"].append(bool(v3))
                elif field == 2:
                    feat = {"tags": [], "geometry": []}
                    k = 0
                    while k < len(payload):
                        t2, k = _read_varint(payload, k)
                        f2, w2 = t2 >> 3, t2 & 0x7
                        if f2 == 1 and w2 == 0:
                            feat["id"], k = _read_varint(payload, k)
                        elif f2 == 3 and w2 == 0:
                            feat["type"], k = _read_varint(payload, k)
                        elif w2 == 2:
                            ln3, k = _read_varint(payload, k)
                            sub, end = [], k + ln3
                            while k < end:
                                v3, k = _read_varint(payload, k)
                                sub.append(v3)
                            feat["tags" if f2 == 2 else "geometry"] = sub
                        elif w2 == 0:
                            _, k = _read_varint(payload, k)
                    layer["features"].append(feat)
            else:
                raise ValueError(f"unexpected wire type {wire}")
        out[layer["name"]] = layer
    return out


# -- Spark sink ---------------------------------------------------------------

def mvt_tiles_df(
    df: DataFrame,
    layer_name: str = "layer",
    extent: int = 4096,
    tile_cols: tuple[str, str] = ("tile_x", "tile_y"),
    px_cols: tuple[str, str] = ("px", "py"),
    id_col: str | None = None,
    property_cols: list[str] | None = None,
) -> DataFrame:
    """Encode point features into one MVT blob per tile.

    Input rows carry a tile assignment (``tile_x, tile_y`` — from
    tiling.assign_tiles) and integer in-tile pixel coordinates ``px, py``
    in [0, extent).  One applyInPandas group per tile builds the layer;
    property columns become the deduplicated key/value tables.  Output:
    ``(tile_x, tile_y, mvt binary, n_features)``.
    """
    tx, ty = tile_cols
    props = property_cols or []
    types = dict(df.dtypes)
    cols = [F.col(px_cols[0]).alias("_px"), F.col(px_cols[1]).alias("_py")]
    if id_col is not None:
        cols.append(F.col(id_col).alias("_id"))
    # Arrow hands an integral column holding nulls to pandas as float64
    # (exact only to 2^53), so integral properties travel as decimal strings
    # and are parsed back: they keep their sint value type at any long.
    as_int = [types[c] in _INTEGRAL_TYPES for c in props]
    for i, c in enumerate(props):
        cols.append((F.col(c).cast("string") if as_int[i] else F.col(c)).alias(f"_p{i}"))

    def _build(pdf: pd.DataFrame) -> pd.DataFrame:
        # tolist() yields Python scalars, which _encode_value dispatches on
        px, py = pdf["_px"].tolist(), pdf["_py"].tolist()
        ids = pdf["_id"].tolist() if id_col is not None else None
        pvals = [pdf[f"_p{i}"].tolist() for i in range(len(props))]
        feats = []
        for r in range(len(pdf)):
            properties = {}
            for c, vals, is_int in zip(props, pvals, as_int):
                v = vals[r]
                # MVT has no null value type: drop null (and NaN) properties
                if v is None or v != v:
                    continue
                properties[c] = int(v) if is_int else v
            f = {
                "type": GEOM_POINT,
                "parts": [[(int(px[r]), int(py[r]))]],
                "properties": properties,
            }
            if ids is not None:
                f["id"] = int(ids[r])
            feats.append(f)
        blob = encode_mvt_layer(layer_name, feats, extent=extent)
        return pd.DataFrame({
            tx: [pdf[tx].iloc[0]], ty: [pdf[ty].iloc[0]],
            "mvt": [blob], "n_features": [len(feats)],
        })

    return df.select(tx, ty, *cols).groupBy(tx, ty).applyInPandas(
        _build, schema=f"{tx} int, {ty} int, mvt binary, n_features int"
    )


def write_tile_pyramid(
    tiles: DataFrame,
    out_dir: str,
    zoom: int,
    blob_col: str = "mvt",
    ext: str = "mvt",
    tile_cols: tuple[str, str] = ("tile_x", "tile_y"),
) -> DataFrame:
    """Write per-tile blobs into the XYZ slippy-map layout
    ``<out>/<z>/<x>/<y>.<ext>`` — the directory convention every tile
    server and map client consumes.  Executor-side writes through a
    pyarrow FileSystem (same pattern as the WebDataset sink), one file
    per tile; works for MVT blobs and equally for the raster path's PNG
    tiles (pass blob_col/ext).  Returns a manifest (z, x, y, path, bytes);
    the write happens when the manifest is acted on."""
    tx, ty = tile_cols

    def _write(batches):
        from pyarrow import fs as pafs

        filesystem, base = pafs.FileSystem.from_uri(out_dir) \
            if "://" in out_dir else (pafs.LocalFileSystem(), out_dir)
        for pdf in batches:
            zs, xs, ys, paths, sizes = [], [], [], [], []
            for row in pdf.itertuples(index=False):
                x, y = int(getattr(row, tx)), int(getattr(row, ty))
                blob = bytes(getattr(row, blob_col))
                d = f"{base}/{zoom}/{x}"
                filesystem.create_dir(d, recursive=True)
                path = f"{d}/{y}.{ext}"
                with filesystem.open_output_stream(path) as f:
                    f.write(blob)
                zs.append(zoom), xs.append(x), ys.append(y)
                paths.append(path), sizes.append(len(blob))
            yield pd.DataFrame(
                {"z": zs, "x": xs, "y": ys, "path": paths, "bytes": sizes}
            )

    return tiles.mapInPandas(
        _write, schema="z int, x int, y int, path string, bytes bigint"
    )
