"""GeoParquet interop: the standard `geo` footer metadata + file-level pruning.

Reference: the GeoParquet FileFormat fork
(/root/reference/sql/spark-3.4/.../parquet/GeoParquetFileFormat.scala:233-287,
GeoParquetMetaData.scala) stores per-column bbox in the `geo` key-value footer
and prunes FILES against spatial filters.  This engine keeps bbox stat COLUMNS
as the primary pruning mechanism (ordinary parquet min/max stats, zero custom
reader), and adds here the spec-compliant `geo` footer so files written by
GDAL/GeoPandas are recognized and files written by this engine are readable as
GeoParquet elsewhere (spec: geoparquet.org, version 1.0.0):

- ``write_geoparquet``: Spark parquet write, then a DISTRIBUTED metadata pass
  (one task per part-file) that rewrites each file with pyarrow adding the
  `geo` footer with that file's true geometry bbox.  File rewrite costs one
  extra read+write of each part — a constant-factor, fully parallel pass.
- ``read_geoparquet``: reads ONLY the footers on the driver (cheap at any data
  size: metadata pages, not data), prunes files whose `geo` bbox misses the
  query window, and hands the surviving file list to the normal vectorized
  parquet reader.
"""

from __future__ import annotations

import json
import os

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from incubator_sedona_spark.geom import wkb as W

GEO_KEY = b"geo"
_VERSION = "1.0.0"


def _part_files(path: str) -> list[str]:
    return sorted(
        os.path.join(path, f)
        for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )


def _geo_meta(geom_col: str, bbox, geometry_types=None, crs=None) -> bytes:
    return json.dumps(
        {
            "version": _VERSION,
            "primary_column": geom_col,
            "columns": {
                geom_col: {
                    "encoding": "WKB",
                    "geometry_types": geometry_types or [],
                    "bbox": [float(v) for v in bbox],
                    **({"crs": crs} if crs else {}),
                }
            },
        },
        separators=(",", ":"),
    ).encode()


def write_geoparquet(
    df: DataFrame, path: str, geom_col: str = "wkb", crs: str | None = None
) -> None:
    """Write a DataFrame with a WKB geometry column as GeoParquet."""
    df.write.mode("overwrite").parquet(path)
    spark = df.sparkSession
    files = _part_files(path)
    fdf = spark.createDataFrame(pa.table({"path": files}), "path string")

    def _rewrite(batches):
        import pyarrow.parquet as pq

        for pdf in batches:
            oks = []
            for fp in pdf["path"]:
                table = pq.read_table(fp)
                col = table.column(geom_col).to_pylist()
                if col:
                    bb = W.bounds_batch([bytes(b) for b in col])
                    bbox = [bb[:, 0].min(), bb[:, 1].min(), bb[:, 2].max(), bb[:, 3].max()]
                else:
                    bbox = [0.0, 0.0, 0.0, 0.0]
                meta = dict(table.schema.metadata or {})
                meta[GEO_KEY] = _geo_meta(geom_col, bbox, crs=crs)
                pq.write_table(table.replace_schema_metadata(meta), fp)
                # the committed file changed: drop the local-FS checksum
                # sidecar or Spark's ChecksumFileSystem rejects the footer
                crc = os.path.join(os.path.dirname(fp), "." + os.path.basename(fp) + ".crc")
                if os.path.exists(crc):
                    os.remove(crc)
                oks.append(True)
            yield pd.DataFrame({"path": pdf["path"], "ok": oks})

    # one task per file — the rewrite runs on executors, nothing converges on
    # the driver
    fdf.repartition(max(len(files), 1)).mapInPandas(
        _rewrite, schema="path string, ok boolean"
    ).collect()


def read_geo_metadata(path: str) -> dict[str, dict]:
    """{file -> parsed `geo` metadata} from footers only (no data pages)."""
    import pyarrow.parquet as pq

    out = {}
    for fp in _part_files(path):
        md = pq.ParquetFile(fp).schema_arrow.metadata or {}
        if GEO_KEY in md:
            out[fp] = json.loads(md[GEO_KEY])
    return out


def read_geoparquet(
    spark: SparkSession, path: str, bbox: tuple[float, float, float, float] | None = None
):
    """Read GeoParquet with optional file-level bbox pruning.

    Returns (DataFrame, primary_geometry_column).  Files lacking `geo`
    metadata are kept (no pruning basis) — never silently dropped.
    """
    metas = read_geo_metadata(path)
    files = _part_files(path)
    geom_col = None
    if metas:
        geom_col = next(iter(metas.values())).get("primary_column")
    if bbox is not None and metas:
        qx0, qy0, qx1, qy1 = bbox
        keep = []
        for fp in files:
            m = metas.get(fp)
            if m is None:
                keep.append(fp)
                continue
            col = m["columns"].get(m.get("primary_column"), {})
            fb = col.get("bbox")
            if fb is None or not (fb[2] < qx0 or qx1 < fb[0] or fb[3] < qy0 or qy1 < fb[1]):
                keep.append(fp)
        files = keep
    if not files:
        df = spark.read.parquet(path).limit(0)
    else:
        df = spark.read.parquet(*files)
    return df, geom_col
