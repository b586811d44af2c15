"""MVT 2.1 encoding (operators/mvt.py): spec goldens for the wire
primitives and command streams, decoder round trip, Spark tile sink."""

import pytest
from pyspark.sql import functions as F

from incubator_sedona_spark.operators.mvt import (
    CLOSE_PATH,
    GEOM_LINESTRING,
    GEOM_POINT,
    GEOM_POLYGON,
    LINE_TO,
    MOVE_TO,
    command,
    decode_mvt,
    encode_geometry,
    encode_mvt_layer,
    mvt_tiles_df,
    unzigzag,
    varint,
    zigzag,
)


def test_wire_primitive_goldens():
    # canonical protobuf varint example: 300 = 0xAC 0x02
    assert varint(300) == b"\xac\x02"
    assert varint(0) == b"\x00"
    assert varint(127) == b"\x7f"
    assert varint(128) == b"\x80\x01"
    # canonical zigzag table: 0,-1,1,-2,2 -> 0,1,2,3,4
    assert [zigzag(v) for v in (0, -1, 1, -2, 2)] == [0, 1, 2, 3, 4]
    assert all(unzigzag(zigzag(v)) == v for v in range(-1000, 1000, 37))
    with pytest.raises(ValueError, match="zigzag"):
        varint(-1)


def test_command_stream_spec_goldens():
    # MVT spec §4.3.5.1: a point at (25, 17) encodes [9, 50, 34]
    assert encode_geometry(GEOM_POINT, [[(25, 17)]]) == [9, 50, 34]
    # §4.3.5.2 example linestring (2,2)->(2,10)->(10,10):
    # [9, 4, 4, 18, 0, 16, 16, 0]
    assert encode_geometry(GEOM_LINESTRING, [[(2, 2), (2, 10), (10, 10)]]) == \
        [9, 4, 4, 18, 0, 16, 16, 0]
    # §4.3.5.4 example polygon (3,6)/(8,12)/(20,34):
    # [9, 6, 12, 18, 10, 12, 24, 44, 15]
    assert encode_geometry(GEOM_POLYGON, [[(3, 6), (8, 12), (20, 34)]]) == \
        [9, 6, 12, 18, 10, 12, 24, 44, 15]
    # command-integer formula from §4.3.1: MoveTo x1 = 9, LineTo x3 = 26
    assert command(MOVE_TO, 1) == 9
    assert command(LINE_TO, 3) == 26
    assert command(CLOSE_PATH, 1) == 15


def test_multipoint_and_cursor_carry():
    # §4.3.5.3: two points (5,7) and (3,2): MoveTo count 2, deltas carry
    assert encode_geometry(GEOM_POINT, [[(5, 7), (3, 2)]]) == \
        [17, 10, 14, 3, 9]


def test_layer_roundtrip_with_properties():
    feats = [
        {"type": GEOM_POINT, "parts": [[(10, 20)]], "id": 7,
         "properties": {"name": "a", "rank": 3, "score": 1.5, "ok": True}},
        {"type": GEOM_POINT, "parts": [[(30, 40)]],
         "properties": {"name": "b", "rank": 3}},  # value dedup: rank=3 shared
    ]
    blob = encode_mvt_layer("pois", feats, extent=512)
    got = decode_mvt(blob)["pois"]
    assert got["version"] == 2 and got["extent"] == 512
    assert got["keys"] == ["name", "rank", "score", "ok"]
    # rank=3 appears once in the value table (dedup)
    assert got["values"].count(3) == 1
    f0, f1 = got["features"]
    assert f0["id"] == 7 and f0["type"] == GEOM_POINT
    assert f0["geometry"] == [9, 20, 40]
    # tags are (key_idx, value_idx) pairs; both features share rank's value
    t0 = dict(zip(f0["tags"][::2], f0["tags"][1::2]))
    t1 = dict(zip(f1["tags"][::2], f1["tags"][1::2]))
    assert got["values"][t0[1]] == 3 and t0[1] == t1[1]
    assert got["values"][t0[0]] == "a" and got["values"][t1[0]] == "b"
    assert got["values"][t0[2]] == 1.5 and got["values"][t0[3]] is True


def test_geometry_validation():
    with pytest.raises(ValueError, match=">= 2"):
        encode_geometry(GEOM_LINESTRING, [[(1, 1)]])
    with pytest.raises(TypeError, match="unsupported"):
        encode_mvt_layer("l", [{"type": GEOM_POINT, "parts": [[(0, 0)]],
                                "properties": {"bad": [1, 2]}}])


def test_mvt_tiles_df(spark):
    rows = [
        (0, 0, 100, 200, 1, "alpha"),
        (0, 0, 300, 400, 2, "beta"),
        (1, 2, 50, 60, 3, "gamma"),
    ]
    df = spark.createDataFrame(
        rows, "tile_x int, tile_y int, px int, py int, fid long, name string"
    )
    out = {(r["tile_x"], r["tile_y"]): r
           for r in mvt_tiles_df(df, layer_name="pts", id_col="fid",
                                 property_cols=["name"]).collect()}
    assert set(out) == {(0, 0), (1, 2)}
    assert out[(0, 0)]["n_features"] == 2
    dec = decode_mvt(bytes(out[(0, 0)]["mvt"]))["pts"]
    assert {f["id"] for f in dec["features"]} == {1, 2}
    geoms = {f["id"]: f["geometry"] for f in dec["features"]}
    assert geoms[1] == [9, 200, 400]  # zigzag(100)=200, zigzag(200)=400
    dec2 = decode_mvt(bytes(out[(1, 2)]["mvt"]))["pts"]
    assert dec2["values"] == ["gamma"]


def test_mvt_tiles_df_numeric_and_null_properties(spark):
    # Nullable int/bool columns reach pandas as float64/object; each value
    # must keep its MVT value type (sint/bool/double), and nulls must be
    # skipped, not raise (MVT has no null type).  The decoder returns int,
    # bool or float by wire field, so the decoded type is the encoded tag type.
    big = 2**63 - 1  # not representable in float64
    rows = [
        (0, 0, 1, 2, 7, True, 1.5, big),
        (0, 0, 3, 4, None, False, None, None),
        (0, 0, 5, 6, None, None, None, -big),
    ]
    df = spark.createDataFrame(
        rows, "tile_x int, tile_y int, px int, py int,"
              " rank int, flag boolean, score double, fid long"
    )
    out = mvt_tiles_df(df, layer_name="pts",
                       property_cols=["rank", "flag", "score", "fid"]).collect()
    assert len(out) == 1
    dec = decode_mvt(bytes(out[0]["mvt"]))["pts"]
    assert set(dec["keys"]) == {"rank", "flag", "score", "fid"}
    assert sorted((type(v).__name__, v) for v in dec["values"]) == [
        ("bool", False), ("bool", True), ("float", 1.5),
        ("int", -big), ("int", 7), ("int", big),
    ]
    tags = sorted(tuple(f["tags"]) for f in dec["features"])
    # rows 2 and 3 keep only their one non-null property (1 tag pair = 2 ints)
    assert sorted(len(t) for t in tags) == [2, 2, 8]


def test_write_tile_pyramid(spark, tmp_path):
    import os

    rows = [(0, 0, 10, 20, 1, "a"), (3, 5, 1, 2, 2, "b")]
    df = spark.createDataFrame(
        rows, "tile_x int, tile_y int, px int, py int, fid long, name string"
    )
    tiles = mvt_tiles_df(df, layer_name="pts", property_cols=["name"])
    from incubator_sedona_spark.operators.mvt import write_tile_pyramid

    out = str(tmp_path / "pyramid")
    manifest = {(r["x"], r["y"]): r
                for r in write_tile_pyramid(tiles, out, zoom=4).collect()}
    assert set(manifest) == {(0, 0), (3, 5)}
    p = os.path.join(out, "4", "3", "5.mvt")
    assert os.path.exists(p)
    with open(p, "rb") as f:
        dec = decode_mvt(f.read())["pts"]
    assert dec["values"] == ["b"]
    assert manifest[(3, 5)]["path"].endswith("4/3/5.mvt")
