"""Shapefile (ogr/ogrsf_frmts/shape; ESRI spec 1998 + dBase III)
tests: shape<->WKB codec across all types incl. ring orientation and
hole nesting, DBF round trips, header layout, sink->source parity,
and the shx-indexed ranged scan."""

import struct

import numpy as np
import pytest

from gdal_spark import shapefile as shpf
from gdal_spark import wkb


def test_point_round_trip():
    w = wkb.point(3.5, -7.25)
    payload = shpf.wkb_to_shape(w)
    assert struct.unpack_from("<i", payload, 0)[0] == shpf.POINT
    assert shpf.shape_to_wkb(payload) == w


def test_null_shape():
    payload = shpf.wkb_to_shape(None)
    assert shpf.shape_to_wkb(payload) is None


def test_polyline_round_trips():
    single = wkb.linestring([(0.0, 0.0), (2.0, 1.0), (5.0, -1.0)])
    p = shpf.wkb_to_shape(single)
    assert shpf.shape_to_wkb(p) == single  # 1 part -> LineString

    multi = (
        b"\x01" + struct.pack("<II", wkb.MULTILINESTRING, 2)
        + wkb.linestring([(0.0, 0.0), (1.0, 1.0)])
        + wkb.linestring([(2.0, 2.0), (3.0, 1.0)])
    )
    p2 = shpf.wkb_to_shape(multi)
    assert shpf.shape_to_wkb(p2) == multi


def test_polygon_with_hole_round_trip():
    # outer CCW + hole CW in WKB-land; the codec must store outer CW /
    # hole CCW per the spec and reassemble the hole via PIP nesting
    outer = [(0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0),
             (0.0, 0.0)]
    hole = [(2.0, 2.0), (2.0, 4.0), (4.0, 4.0), (4.0, 2.0), (2.0, 2.0)]
    w = wkb.polygon([outer, hole])
    payload = shpf.wkb_to_shape(w)
    # spec orientation inside the record
    (stype,) = struct.unpack_from("<i", payload, 0)
    assert stype == shpf.POLYGON
    back = shpf.shape_to_wkb(payload)
    gt, rings = wkb.parse(back)
    assert gt == wkb.POLYGON
    assert len(rings) == 2
    from gdal_spark.geometry import ring_area

    areas = sorted(abs(ring_area(np.asarray(r))) for r in rings)
    assert areas == [4.0, 100.0]


def test_multipolygon_hole_nesting():
    a = [[(0.0, 0.0), (5.0, 0.0), (5.0, 5.0), (0.0, 5.0), (0.0, 0.0)],
         [(1.0, 1.0), (1.0, 2.0), (2.0, 2.0), (2.0, 1.0), (1.0, 1.0)]]
    b = [[(10.0, 10.0), (14.0, 10.0), (14.0, 14.0), (10.0, 14.0),
          (10.0, 10.0)]]
    w = wkb.multipolygon([a, b])
    back = shpf.shape_to_wkb(shpf.wkb_to_shape(w))
    gt, polys = wkb.parse(back)
    assert gt == wkb.MULTIPOLYGON
    ring_counts = sorted(len(p) for p in polys)
    assert ring_counts == [1, 2]  # the hole nested under polygon A


def test_dbf_round_trip():
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "name": ["alpha", "bee", ""],
            "rank": [3, -17, 0],
            "score": [1.5, -2.25, 0.0],
            "ok": [True, False, True],
        }
    )
    buf = shpf.write_dbf(pdf)
    assert buf[0] == 0x03
    back = shpf.read_dbf(buf)
    assert back["name"].tolist() == ["alpha", "bee", ""]
    assert back["rank"].tolist() == [3, -17, 0]
    assert back["score"].tolist() == [1.5, -2.25, 0.0]
    assert back["ok"].tolist() == [True, False, True]


def test_shp_header_layout():
    shp, shx = shpf.write_shp([wkb.point(1.0, 2.0)])
    assert struct.unpack_from(">i", shp, 0)[0] == 9994
    assert struct.unpack_from("<i", shp, 28)[0] == 1000
    assert struct.unpack_from("<i", shp, 32)[0] == shpf.POINT
    # file length in 16-bit words
    assert struct.unpack_from(">i", shp, 24)[0] * 2 == len(shp)
    assert struct.unpack_from(">i", shx, 24)[0] * 2 == len(shx)
    # shx points at the record
    off, clen = struct.unpack_from(">2i", shx, 100)
    assert off * 2 == 100
    payload = shp[off * 2 + 8 : off * 2 + 8 + clen * 2]
    assert shpf.shape_to_wkb(payload) == wkb.point(1.0, 2.0)


def _df(spark, n=30):
    rows = []
    for i in range(n):
        if i % 3 == 0:
            g = wkb.point(float(i), float(2 * i))
        elif i % 3 == 1:
            g = wkb.linestring([(0.0, float(i)), (float(i + 1), 1.0)])
        else:
            g = wkb.polygon(
                [[(i, i), (i + 2.0, i), (i + 2.0, i + 2.0), (i, i + 2.0),
                  (i, i)]]
            )
        rows.append((i, f"f{i}", float(i) / 8.0, g))
    return spark.createDataFrame(
        rows, "src long, name string, score double, geometry binary"
    )


def test_sink_source_round_trip(spark, tmp_path):
    out = str(tmp_path / "shp")
    # one partition per shape type keeps per-file types homogeneous
    # (the spec is single-type per .shp, like the reference enforces)
    df = _df(spark).repartition(3, (spark.range(1).columns and
                                    __import__("pyspark").sql.functions
                                    .col("src") % 3))
    manifest = shpf.write_shapefile_dir(df, out).toPandas()
    assert manifest["n_rows"].sum() == 30
    back = shpf.read_shapefile_ranged(
        spark, sorted(manifest["path"])
    ).toPandas()
    assert len(back) == 30
    got = {
        int(r["src"]): (r["name"], r["score"], bytes(r["geometry"]))
        for _, r in back.iterrows()
    }
    want = {
        int(r["src"]): (r["name"], r["score"], bytes(r["geometry"]))
        for r in _df(spark).collect()
    }
    assert got == want


def _rows(pdf):
    return [
        (int(r["src"]), r["name"], r["score"], bytes(r["geometry"]))
        for _, r in pdf.sort_values("src").iterrows()
    ]


def test_ranged_scan_matches_file_scan(spark, tmp_path):
    """10-record chunks, the whole file as one chunk and the written
    source frame all agree; fid is the record number."""
    out = str(tmp_path / "shp1")
    df = _df(spark, 57).coalesce(1)
    manifest = shpf.write_shapefile_dir(df, out).toPandas()
    path = manifest["path"].iloc[0]
    a = shpf.read_shapefile_ranged(spark, path).toPandas()
    b = shpf.read_shapefile_ranged(
        spark, path, records_per_task=10
    ).toPandas()
    assert len(b) == 57
    assert sorted(b["fid"]) == list(range(57))
    assert _rows(a) == _rows(b) == _rows(df.toPandas())


def test_dbf_integer_field_with_blank_reads_long_null(spark, tmp_path):
    """N(18,0) types as long from its descriptor; a blank value is
    null, not a reason to widen the column to double."""
    import pandas as pd

    dbf = bytearray(shpf.write_dbf(pd.DataFrame({"n": [1, 2, 3]})))
    hdr_size, rec_size = struct.unpack_from("<HH", dbf, 8)
    dbf[hdr_size + rec_size + 1 : hdr_size + 2 * rec_size] = b" " * 18
    shp, shx = shpf.write_shp([wkb.point(float(i), 0.0) for i in range(3)])
    base = str(tmp_path / "blank")
    for ext, blob in ((".shp", shp), (".shx", shx), (".dbf", bytes(dbf))):
        with open(base + ext, "wb") as f:
            f.write(blob)
    df = shpf.read_shapefile_ranged(spark, base + ".shp")
    assert dict(df.dtypes)["n"] == "bigint"
    assert [r["n"] for r in df.orderBy("fid").collect()] == [1, None, 3]


def test_shx_bad_length_raises(spark, tmp_path):
    shp, shx = shpf.write_shp([wkb.point(1.0, 2.0)] * 3)
    base = str(tmp_path / "bad")
    with open(base + ".shp", "wb") as f:
        f.write(shp)
    with open(base + ".shx", "wb") as f:
        f.write(shx + b"\x00" * 4)
    with pytest.raises(ValueError, match="100 \\+ 8k"):
        shpf.read_shapefile_ranged(spark, base + ".shp")


def test_truncated_dbf_raises(spark, tmp_path):
    import pandas as pd

    shp, shx = shpf.write_shp([wkb.point(1.0, 2.0)] * 3)
    dbf = shpf.write_dbf(pd.DataFrame({"s": ["aaaa", "bbbb", "cccc"]}))
    base = str(tmp_path / "short")
    for ext, blob in ((".shp", shp), (".shx", shx), (".dbf", dbf[:-3])):
        with open(base + ext, "wb") as f:
            f.write(blob)
    with pytest.raises(Exception, match="truncated records"):
        shpf.read_shapefile_ranged(spark, base + ".shp").collect()
