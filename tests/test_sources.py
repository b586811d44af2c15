"""Readers + feature/invariant stages."""

import json

import numpy as np
from pyspark.sql import functions as F

from incubator_sedona_spark.geom import wkb as W
from incubator_sedona_spark.sources import datagen as DG
from incubator_sedona_spark.sources.images import (
    decode_image,
    extract_features,
    image_features_df,
    image_invariants_df,
)
from incubator_sedona_spark.sources.readers import read_geojson, read_wkt_csv, save_as_wkt


def test_read_wkt_csv(spark, tmp_path):
    p = str(tmp_path / "geoms.tsv")
    with open(p, "w") as f:
        f.write("POINT (1 2)\ta\n")
        f.write("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))\tb\n")
        f.write("NOT A GEOMETRY\tc\n")
    df = read_wkt_csv(spark, p)
    rows = df.collect()
    assert len(rows) == 2  # invalid skipped
    kinds = {W.loads(bytes(r.wkb)).kind for r in rows}
    assert kinds == {W.POINT, W.POLYGON}


def test_read_geojson(spark, tmp_path):
    p = str(tmp_path / "fc.jsonl")
    feats = [
        {"type": "Feature", "geometry": {"type": "Point", "coordinates": [3, 4]},
         "properties": {"name": "x"}},
        {"type": "Feature",
         "geometry": {"type": "Polygon", "coordinates": [[[0, 0], [2, 0], [2, 2], [0, 2], [0, 0]]]},
         "properties": {"name": "y"}},
    ]
    with open(p, "w") as f:
        for ft in feats:
            f.write(json.dumps(ft) + "\n")
    df = read_geojson(spark, p)
    rows = df.collect()
    assert len(rows) == 2
    props = {json.loads(r.properties)["name"] for r in rows}
    assert props == {"x", "y"}


def test_save_as_wkt_roundtrip(spark, tmp_path):
    p = str(tmp_path / "out_wkt")
    df = spark.createDataFrame(
        [(1, bytearray(W.dumps(W.point(5, 6))))], "id int, wkb binary"
    )
    save_as_wkt(df, p)
    back = read_wkt_csv(spark, p, wkt_column=1)
    got = W.loads(bytes(back.collect()[0].wkb))
    assert got.vertices().tolist() == [[5.0, 6.0]]


def test_image_invariants_df(spark):
    df = DG.images_df(spark, 9)
    out = image_invariants_df(df).collect()
    assert all(r.dec_ok for r in out)
    # phash recomputed from decoded pixels matches the stored phash
    # exactly for png; within small hamming distance for jpeg
    for r in out:
        ham = bin((r.phash ^ r.phash_rec) & (2**64 - 1)).count("1")
        assert ham == 0 if r.fmt == "png" else ham <= 4


def test_image_features_df(spark):
    df = DG.images_df(spark, 6)
    out = image_features_df(df).collect()
    for r in out:
        assert r.dec_ok
        assert 0 <= r.mean_luma <= 255
        assert abs(sum(r.luma_hist) - 1.0) < 1e-9
        i = int(r.image_id.split("_")[1])
        pix = DG.gen_pixels(i, r.w, r.h)
        if r.fmt == "png":
            ml, gm, hist = extract_features(pix)
            assert abs(ml - r.mean_luma) < 1e-9 and abs(gm - r.grad_mag) < 1e-9


def test_save_as_geojson_roundtrip(spark, tmp_path):
    import numpy as np

    from incubator_sedona_spark.geom import wkb as W
    from incubator_sedona_spark.sources.readers import read_geojson, save_as_geojson

    rows = [
        (0, "alpha", bytearray(W.dumps(W.point(1.5, -2.0)))),
        (1, "beta", bytearray(W.dumps(W.box(0.0, 0.0, 4.0, 4.0)))),
    ]
    df = spark.createDataFrame(rows, "gid int, name string, wkb binary")
    path = str(tmp_path / "gj_out")
    save_as_geojson(df, path)
    back = read_geojson(spark, path)
    assert back.count() == 2
    import json as _json

    got = {(_json.loads(r.properties)["gid"], _json.loads(r.properties)["name"]) for r in back.collect()}
    assert got == {(0, "alpha"), (1, "beta")}
    geoms = sorted((W.loads(bytes(r.wkb)).kind for r in back.collect()))
    assert geoms == [W.POINT, W.POLYGON]


# -- Iceberg-style image table layer (round 3) --------------------------------


def test_image_table_fallback_roundtrip(spark, tmp_path):
    from incubator_sedona_spark.sources import iceberg as IB
    from incubator_sedona_spark.sources.datagen import gen_images_pdf_for_ids
    import numpy as np

    pdf = gen_images_pdf_for_ids(np.arange(20))
    df = spark.createDataFrame(pdf)
    loc = str(tmp_path / "imgs.parquet")
    IB.write_image_table(df, loc, mode="overwrite")
    back = IB.read_image_table(spark, loc)
    assert back.count() == 20
    assert {f.name for f in back.schema.fields} >= {
        "image_id", "bytes", "w", "h", "fmt", "caption", "phash"
    }


def test_image_table_schema_guard(spark, tmp_path):
    import pytest as _pytest

    from incubator_sedona_spark.sources import iceberg as IB

    bad = spark.range(3).selectExpr("cast(id as string) as image_id")
    with _pytest.raises(ValueError, match="input_hint"):
        IB.validate_image_schema(bad)
    # time travel without the runtime JAR is a loud gate, not silent parquet
    if not IB.iceberg_available(spark):
        with _pytest.raises(NotImplementedError):
            IB.read_image_table(spark, str(tmp_path / "x.parquet"), snapshot_id=1)


_OPTIONAL_CODECS = {"PIL", "tifffile", "soundfile", "av", "cv2", "pydub"}


def test_no_optional_codec_imports():
    """Each format has one native decoder: no package module imports an
    optional codec, whose output would depend on what the host has
    installed (nested and guarded imports count too)."""
    import ast
    import pathlib

    import incubator_sedona_spark

    root = pathlib.Path(incubator_sedona_spark.__file__).parent
    found = []
    for path in sorted(root.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Import):
                names = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom) and node.level == 0:
                names = [node.module or ""]
            else:
                continue
            found += [
                f"{path.relative_to(root)}:{node.lineno} {n}"
                for n in names
                if n.split(".")[0] in _OPTIONAL_CODECS
            ]
    assert not found, found
