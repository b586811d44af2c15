"""ESRI Shapefile reader (SURVEY.md §2.1) — pure numpy, no GDAL.

Reference surface: ``core/.../formatMapper/shapefileParser/ShapefileReader.java``
plus the shape parsers under ``parseUtils/shp/`` — ring grouping replicated from
``PolygonParser.java:54-105`` (first ring fixes the shell orientation; a ring
wound opposite to it is a hole of the *current* shell; a ring wound the same
way starts a new shell; rings with <= 3 coordinates are dropped),
``PolyLineParser.java`` (1 part -> LineString, else MultiLineString),
``MultiPointParser.java``, and the supported-type set from
``ShapeType.java:31-47`` (NULL/POINT/POLYLINE/POLYGON/MULTIPOINT; Z/M variants
and MULTIPATCH raise).  DBF attributes mirror ``parseUtils/dbf/DbfParseUtil.java``
but are emitted as *typed* columns (N -> long/double, L -> boolean, C/D ->
string); pass ``all_strings=True`` for the reference's all-strings contract.

Distribution model: the reference reads each ``.shp/.shx/.dbf`` triple through
non-splittable Hadoop InputFormats combined per basename
(``CombineShapeReader.java``) — i.e. file-level parallelism.  The Spark-native
form here: the driver lists ``*.shp`` under the input path (a tiny metadata
op) and reads ONE ``.dbf`` header (bytes, not records) to fix the attribute
schema; the file list is then parallelized one-file-per-task and each task
parses its triple executor-side with numpy (bulk coordinates via
``np.frombuffer`` — no per-vertex Python).  This matches the reference's
parallel grain, and the spec's 32-bit 16-bit-word offsets cap any single
``.shp`` at ~4 GB, so one file per task is the natural unit at scale: a
100-TB shapefile corpus is by construction tens of thousands of files that
spread across executors.  Attribute bytes never cross the driver.
"""

from __future__ import annotations

import struct
from typing import Iterator, Optional

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from incubator_sedona_spark.geom import wkb as W

SHAPE_NAMES = {
    0: "NULL", 1: "POINT", 3: "POLYLINE", 5: "POLYGON", 8: "MULTIPOINT",
    11: "POINTZ", 13: "POLYLINEZ", 15: "POLYGONZ", 18: "MULTIPOINTZ",
    21: "POINTM", 23: "POLYLINEM", 25: "POLYGONM", 28: "MULTIPOINTM",
    31: "MULTIPATCH",
}
# ShapeType.java:31-47 marks exactly these ids supported (NULL yields no row).
SUPPORTED_TYPES = {0, 1, 3, 5, 8}

_FILE_CODE = 9994
_HEADER_LEN = 100


# -- low-level .shp parsing --------------------------------------------------

def _ring_is_ccw(ring: np.ndarray) -> bool:
    """Shoelace orientation; positive signed area = counter-clockwise."""
    x, y = ring[:, 0], ring[:, 1]
    return float(np.dot(x, np.roll(y, -1)) - np.dot(y, np.roll(x, -1))) > 0.0


def _coords(buf: memoryview, off: int, n: int) -> np.ndarray:
    return (
        np.frombuffer(buf, dtype="<f8", count=2 * n, offset=off)
        .reshape(n, 2)
        .copy()
    )


def _parse_poly_header(buf: memoryview, off: int):
    """Skip bbox, read numParts/numPoints and the part-offset table."""
    n_parts, n_points = struct.unpack_from("<ii", buf, off + 32)
    parts = np.frombuffer(buf, dtype="<i4", count=n_parts, offset=off + 40)
    offsets = np.concatenate([parts, [n_points]])
    pts_off = off + 40 + 4 * n_parts
    return n_points, offsets, pts_off


def _polygon_from_rings(rings: list[np.ndarray]) -> W.Geometry:
    """PolygonParser.java:54-105 grouping, verbatim semantics."""
    shells_ccw: Optional[bool] = None
    shell: Optional[np.ndarray] = None
    holes: list[np.ndarray] = []
    polys: list[W.Geometry] = []
    for ring in rings:
        if len(ring) <= 3:  # not a ring; the reference abandons it
            continue
        ccw = _ring_is_ccw(ring)
        if shell is None:
            shell, shells_ccw = ring, ccw
        elif ccw != shells_ccw:
            holes.append(ring)
        else:
            polys.append(W.polygon(shell, holes))
            shell, holes = ring, []
    if shell is not None:
        polys.append(W.polygon(shell, holes))
    if len(polys) == 1:
        return polys[0]
    return W.multi(W.MULTIPOLYGON, polys)


class _Skipped:
    """Sentinel for an unsupported-type record skipped in ``skip`` mode;
    keeps the list index-aligned with the sibling .dbf record stream (the
    reference advances BOTH readers when it skips —
    CombineShapeReader.java:148-154)."""

    __slots__ = ()


SKIPPED = _Skipped()


def parse_shp(
    buf: bytes, source: str = "<bytes>", on_unsupported: str = "error"
) -> list[Optional[W.Geometry]]:
    """Parse a whole .shp file; one entry per record (None for NULL shapes).

    Record advancement trusts the record header's content length (the spec
    guarantees it), so unknown-but-well-formed records fail loudly on their
    shape id rather than desynchronising the stream.

    ``on_unsupported``: ``"error"`` (default) raises on Z/M/MULTIPATCH
    records; ``"skip"`` replicates the reference's contract — skip the
    record with a warning (ShapefileReaderTest.testShapefileEndWith
    UnsupportedType expects 0 rows from a PolygonZ file) — emitting the
    ``SKIPPED`` sentinel so DBF alignment is preserved.  The loud default is
    a deliberate deviation: silently dropping records is how a 100-TB
    ingest loses data without anyone noticing.
    """
    if on_unsupported not in ("error", "skip"):
        raise ValueError(f"on_unsupported must be 'error' or 'skip', got {on_unsupported!r}")
    mv = memoryview(buf)
    if len(buf) < _HEADER_LEN:
        raise ValueError(f"{source}: truncated shapefile header ({len(buf)} bytes)")
    (code,) = struct.unpack_from(">i", mv, 0)
    if code != _FILE_CODE:
        raise ValueError(f"{source}: bad shapefile magic {code} (want {_FILE_CODE})")
    (file_words,) = struct.unpack_from(">i", mv, 24)
    end = min(len(buf), 2 * file_words)

    out: list[Optional[W.Geometry]] = []
    off = _HEADER_LEN
    while off + 8 <= end:
        _recno, content_words = struct.unpack_from(">ii", mv, off)
        c = off + 8
        off = c + 2 * content_words
        (stype,) = struct.unpack_from("<i", mv, c)
        if stype not in SUPPORTED_TYPES:
            name = SHAPE_NAMES.get(stype, f"id={stype}")
            if on_unsupported == "skip":
                import warnings

                warnings.warn(
                    f"{source}: skipped unsupported shape type {name} "
                    f"(reference parity: CombineShapeReader.java:148-154)"
                )
                out.append(SKIPPED)
                continue
            raise NotImplementedError(
                f"{source}: shape type {name} is not supported (the reference "
                f"supports NULL/POINT/POLYLINE/POLYGON/MULTIPOINT only, "
                f"ShapeType.java:31-47; pass on_unsupported='skip' for the "
                f"reference's skip-with-warning contract)"
            )
        if stype == 0:
            out.append(None)
        elif stype == 1:
            x, y = struct.unpack_from("<dd", mv, c + 4)
            out.append(W.point(x, y))
        elif stype == 8:
            (n,) = struct.unpack_from("<i", mv, c + 36)
            pts = _coords(mv, c + 40, n)
            out.append(W.multi(W.MULTIPOINT, [W.point(x, y) for x, y in pts]))
        else:  # 3 polyline / 5 polygon share the parts layout
            n_points, offsets, pts_off = _parse_poly_header(mv, c + 4)
            pts = _coords(mv, pts_off, n_points)
            parts = [pts[offsets[i]:offsets[i + 1]] for i in range(len(offsets) - 1)]
            if stype == 3:
                lines = [W.linestring(p) for p in parts]
                out.append(lines[0] if len(lines) == 1 else W.multi(W.MULTILINESTRING, lines))
            else:
                out.append(_polygon_from_rings(parts))
    return out


# -- .dbf parsing ------------------------------------------------------------

class DbfField:
    __slots__ = ("name", "ftype", "length", "decimals")

    def __init__(self, name: str, ftype: str, length: int, decimals: int):
        self.name, self.ftype, self.length, self.decimals = name, ftype, length, decimals

    def spark_type(self, all_strings: bool):
        if all_strings:
            return StringType()
        if self.ftype in ("N", "F"):
            return DoubleType() if (self.decimals > 0 or self.ftype == "F") else LongType()
        if self.ftype == "L":
            return BooleanType()
        return StringType()  # C, D, memo/others degrade to string


def parse_dbf_header(buf: bytes, source: str = "<bytes>"):
    """Return (n_records, header_size, record_size, [DbfField...])."""
    if len(buf) < 32:
        raise ValueError(f"{source}: truncated DBF header")
    n_records, header_size, record_size = struct.unpack_from("<iHH", buf, 4)
    fields: list[DbfField] = []
    off = 32
    while off < header_size - 1 and off + 32 <= len(buf) and buf[off] != 0x0D:
        raw = bytes(buf[off:off + 11]).split(b"\x00", 1)[0]
        name = raw.decode("ascii", "replace").strip()
        fields.append(DbfField(name, chr(buf[off + 11]), buf[off + 16], buf[off + 17]))
        off += 32
    return n_records, header_size, record_size, fields


def _decode_field(col: np.ndarray, f: DbfField, all_strings: bool) -> list:
    """col: (n, length) uint8 slab for one field."""
    raw = [bytes(col[i]).strip(b" \x00") for i in range(len(col))]
    if all_strings or f.ftype in ("C", "D"):
        return [r.decode("latin-1") for r in raw]
    if f.ftype in ("N", "F"):
        if f.decimals > 0 or f.ftype == "F":
            return [float(r) if r not in (b"", b"*" * len(r)) else None for r in raw]
        return [int(r) if r not in (b"", b"*" * len(r)) else None for r in raw]
    if f.ftype == "L":
        return [
            True if r[:1] in (b"Y", b"y", b"T", b"t")
            else False if r[:1] in (b"N", b"n", b"F", b"f")
            else None
            for r in raw
        ]
    return [r.decode("latin-1") for r in raw]


def parse_dbf(buf: bytes, all_strings: bool = False, source: str = "<bytes>"):
    """Return (fields, dict name -> decoded column list)."""
    n, header_size, record_size, fields = parse_dbf_header(buf, source)
    body = np.frombuffer(buf, dtype=np.uint8, count=n * record_size, offset=header_size)
    rows = body.reshape(n, record_size)
    if n and np.any(rows[:, 0] == 0x2A):
        raise ValueError(
            f"{source}: DBF contains deleted records (0x2A flags); record "
            f"alignment with the .shp stream would be ambiguous — repack the file"
        )
    cols: dict[str, list] = {}
    off = 1  # skip deletion flag
    for f in fields:
        cols[f.name] = _decode_field(rows[:, off:off + f.length], f, all_strings)
        off += f.length
    return fields, cols


def parse_shx_count(buf: bytes) -> int:
    """Record count from the .shx index (8 bytes per record after the header)."""
    (file_words,) = struct.unpack_from(">i", memoryview(buf), 24)
    return (2 * file_words - _HEADER_LEN) // 8


# -- distributed reader ------------------------------------------------------

def _fs_for(path: str):
    from pyarrow import fs as pafs

    uri = path.replace("s3a://", "s3://", 1) if path.startswith("s3a://") else path
    return pafs.FileSystem.from_uri(uri)


def _list_shapefiles(path: str) -> list[tuple[str, Optional[str], Optional[str]]]:
    """Return [(shp, dbf|None, shx|None)] triples under ``path``.

    ``path`` may be a single ``.shp`` file or a directory; sibling lookup is
    case-tolerant on the extension (``.dbf``/``.DBF``).
    """
    from pyarrow import fs as pafs

    filesystem, fs_path = _fs_for(path)
    info = filesystem.get_file_info(fs_path)
    if info.is_file:
        names = {fs_path}
        parent = fs_path.rsplit("/", 1)[0] if "/" in fs_path else ""
        sibs = filesystem.get_file_info(pafs.FileSelector(parent, allow_not_found=True))
        all_files = {f.path for f in sibs if f.is_file}
    else:
        sel = pafs.FileSelector(fs_path, recursive=True, allow_not_found=True)
        all_files = {f.path for f in filesystem.get_file_info(sel) if f.is_file}
        names = {f for f in all_files if f.lower().endswith(".shp")}
    if not names:
        raise FileNotFoundError(f"no .shp files under {path}")

    def sibling(shp: str, ext: str) -> Optional[str]:
        stem = shp[: -4]
        for cand in (stem + ext, stem + ext.upper()):
            if cand in all_files:
                return cand
        return None

    return [(s, sibling(s, ".dbf"), sibling(s, ".shx")) for s in sorted(names)]


def read_shapefile(
    spark: SparkSession,
    path: str,
    all_strings: bool = False,
    keep_null: bool = False,
    on_unsupported: str = "error",
) -> DataFrame:
    """Read shapefile(s) into a DataFrame of attribute columns + ``wkb``.

    Parity contract (ShapefileReader.java / readToGeometryRDD): every
    supported shape becomes one row carrying its DBF attributes; NULL shapes
    are dropped unless ``keep_null=True`` (then ``wkb`` is null).  All files
    under a directory must share the DBF schema — mismatches fail loudly
    executor-side naming the offending file.
    """
    triples = _list_shapefiles(path)
    first_dbf = triples[0][1]
    fields: list[DbfField] = []
    if first_dbf is not None:
        filesystem, p = _fs_for(first_dbf)
        with filesystem.open_input_file(p) as f:
            head = f.read(32)
            (header_size,) = struct.unpack_from("<H", head, 8)
            head += f.read(max(0, header_size - len(head)))
        _, _, _, fields = parse_dbf_header(head, first_dbf)

    field_sig = [(f.name, f.ftype, f.length, f.decimals) for f in fields]
    schema = StructType(
        [StructField(f.name, f.spark_type(all_strings), True) for f in fields]
        + [StructField("wkb", BinaryType(), True)]
    )

    def _parse(iterator: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in iterator:
            for shp, dbf, shx in zip(pdf["shp"], pdf["dbf"], pdf["shx"]):
                filesystem, p = _fs_for(shp)
                with filesystem.open_input_file(p) as f:
                    geoms = parse_shp(f.read(), shp, on_unsupported=on_unsupported)
                if shx is not None:
                    _, px = _fs_for(shx)
                    with filesystem.open_input_file(px) as f:
                        idx_n = parse_shx_count(f.read())
                    if idx_n != len(geoms):
                        raise ValueError(
                            f"{shp}: .shx declares {idx_n} records, .shp has {len(geoms)}"
                        )
                cols: dict[str, list] = {}
                if dbf is not None:
                    _, pd_ = _fs_for(dbf)
                    with filesystem.open_input_file(pd_) as f:
                        dfields, cols = parse_dbf(f.read(), all_strings, dbf)
                    sig = [(x.name, x.ftype, x.length, x.decimals) for x in dfields]
                    if sig != field_sig:
                        raise ValueError(
                            f"{dbf}: DBF schema {sig} differs from the directory "
                            f"schema {field_sig}"
                        )
                    # zero-field DBFs exist in the wild (the reference's own
                    # point fixture) — with no columns there is nothing to
                    # align, so only check when attributes are present
                    if cols:
                        n_attr = len(next(iter(cols.values())))
                        if n_attr != len(geoms):
                            raise ValueError(
                                f"{shp}: {len(geoms)} shapes but {n_attr} DBF records"
                            )
                elif field_sig:
                    raise ValueError(f"{shp}: missing .dbf but the directory schema has fields")
                keep = [
                    i
                    for i, g in enumerate(geoms)
                    if not isinstance(g, _Skipped) and (keep_null or g is not None)
                ]
                data = {f.name: [cols[f.name][i] for i in keep] for f in fields}
                data["wkb"] = [
                    W.dumps(geoms[i]) if geoms[i] is not None else None for i in keep
                ]
                yield pd.DataFrame(data, columns=[f.name for f in fields] + ["wkb"])

    shp, dbf, shx = zip(*triples)
    files_df = spark.createDataFrame(
        pa.table({"shp": shp, "dbf": dbf, "shx": shx}), "shp string, dbf string, shx string"
    ).repartition(len(triples))
    return files_df.mapInPandas(_parse, schema=schema)
