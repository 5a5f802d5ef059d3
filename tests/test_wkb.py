"""WKB encode/decode roundtrips + cross-check against DuckDB spatial
(if available) / struct layout constants."""

import numpy as np
import pytest

from gdal_spark import wkb

RING = np.array([[0, 0], [4, 0], [4, 4], [0, 4], [0, 0]], dtype=float)
HOLE = np.array([[1, 1], [1, 3], [3, 3], [3, 1], [1, 1]], dtype=float)


def test_point_roundtrip():
    buf = wkb.point(1.5, -2.25)
    t, (x, y) = wkb.parse(buf)
    assert t == wkb.POINT and (x, y) == (1.5, -2.25)
    assert len(buf) == 21  # 1 + 4 + 16


def test_linestring_roundtrip():
    buf = wkb.linestring(RING[:3])
    t, coords = wkb.parse(buf)
    assert t == wkb.LINESTRING
    assert np.array_equal(coords, RING[:3])


def test_polygon_roundtrip_with_hole():
    buf = wkb.polygon([RING, HOLE])
    t, rings = wkb.parse(buf)
    assert t == wkb.POLYGON and len(rings) == 2
    assert np.array_equal(rings[0], RING)
    assert np.array_equal(rings[1], HOLE)


def test_polygon_autocloses_open_ring():
    buf = wkb.polygon([RING[:-1]])
    _, rings = wkb.parse(buf)
    assert np.array_equal(rings[0][0], rings[0][-1])


def test_multipolygon_roundtrip():
    buf = wkb.multipolygon([[RING], [HOLE]])
    t, polys = wkb.parse(buf)
    assert t == wkb.MULTIPOLYGON and len(polys) == 2
    assert np.array_equal(polys[0][0], RING)
    rings = wkb.polygon_rings(buf)
    assert len(rings) == 2


def test_polygon_rings_rejects_point():
    with pytest.raises(ValueError):
        wkb.polygon_rings(wkb.point(0, 0))


def test_wkt_output():
    assert wkb.wkt(wkb.point(1, 2)) == "POINT (1 2)"
    assert wkb.wkt(wkb.polygon([RING])) == (
        "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))"
    )


def test_big_endian_parse():
    import struct

    # hand-build a big-endian point
    buf = struct.pack(">BIdd", 0, wkb.POINT, 3.0, 4.0)
    t, (x, y) = wkb.parse(buf)
    assert t == wkb.POINT and (x, y) == (3.0, 4.0)


def test_iso_z_type_codes_stripped():
    """type_word maps ISO Z/M/ZM offsets and EWKB flags to the base
    type and reports each dimension flag."""
    assert wkb.type_word(1003) == (wkb.POLYGON, True, False, False)
    assert wkb.type_word(3006) == (wkb.MULTIPOLYGON, True, True, False)
    assert wkb.type_word(1) == (wkb.POINT, False, False, False)
    assert wkb.type_word(2002) == (wkb.LINESTRING, False, True, False)
    assert wkb.type_word(0x80000002) == (
        wkb.LINESTRING, True, False, False
    )
    assert wkb.type_word(0x40000001) == (wkb.POINT, False, True, False)
    assert wkb.type_word(0xE0000003) == (wkb.POLYGON, True, True, True)
    assert wkb.type_word(0x20000008) == (8, False, False, True)
    with pytest.raises(ValueError, match="4001"):
        wkb.type_word(4001)


def test_ewkb_srid_flag_consumes_srid_word():
    """PostGIS EWKB sets 0x20000000 on the type word and inserts a
    4-byte SRID before the coordinates; the parser must skip it (the
    old behavior masked the flag and decoded the SRID bytes as the
    first coordinate)."""
    import struct

    # hand-build EWKB: little-endian point(1,2) with SRID=4326
    buf = (b"\x01"
           + struct.pack("<I", 0x20000001)
           + struct.pack("<I", 4326)
           + struct.pack("<dd", 1.0, 2.0))
    gt, payload = wkb.parse(buf)
    assert gt == wkb.POINT
    assert payload == (1.0, 2.0)

    # EWKB polygon with SRID
    ring = [(0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 0.0)]
    body = struct.pack("<I", 1) + struct.pack("<I", len(ring))
    for x, y in ring:
        body += struct.pack("<dd", x, y)
    pbuf = (b"\x01" + struct.pack("<I", 0x20000003)
            + struct.pack("<I", 3857) + body)
    gt, rings = wkb.parse(pbuf)
    assert gt == wkb.POLYGON
    assert len(rings) == 1 and len(rings[0]) == 4
    assert rings[0][1][0] == 4.0


def _zm_geometries():
    """(type word, WKB) pairs with Z and/or M coordinates. Each one
    parses without error when its coordinates are misread as XY."""
    import struct

    def ring(dims):
        pts = [(0, 0), (4, 0), (4, 4), (0, 0)]
        return struct.pack("<I", len(pts)) + b"".join(
            struct.pack(f"<{dims}d", x, y, *[5.0] * (dims - 2))
            for x, y in pts
        )

    line_z = struct.pack("<I6d", 2, 0, 0, 1, 1, 1, 1)
    return [
        (1001, struct.pack("<BI3d", 1, 1001, 1.0, 2.0, 3.0)),
        (1002, struct.pack("<BI", 1, 1002) + line_z),
        (2003, struct.pack("<BII", 1, 2003, 1) + ring(3)),
        (3006, struct.pack("<BII", 1, 3006, 1)
         + struct.pack("<BII", 1, 3003, 1) + ring(4)),
        (0x80000002, struct.pack("<BI", 1, 0x80000002) + line_z),
    ]


def _zm_readers():
    import pandas as pd

    from gdal_spark import curves, fgb, geojson, gpkg

    return {
        "wkb.parse": wkb.parse,
        "curves.parse_curve": curves.parse_curve,
        "gpkg.wkb_to_gpb": gpkg.wkb_to_gpb,
        "fgb.fgb_encode": lambda b: fgb.fgb_encode(
            pd.DataFrame({"geometry": [b]})),
        "geojson.wkb_to_geometry": geojson.wkb_to_geometry,
    }


@pytest.mark.parametrize("reader", sorted(_zm_readers()))
@pytest.mark.parametrize(
    "code,buf", _zm_geometries(),
    ids=["1001", "1002", "2003", "3006", "ewkb_z"],
)
def test_z_m_geometry_rejected(reader, code, buf):
    """ISO 1xxx/2xxx/3xxx words and the EWKB Z flag raise a ValueError
    naming the word; reading them as XY used to return garbage (or
    drop Z) silently."""
    with pytest.raises(ValueError, match=rf"\b{code}\b.*Z/M"):
        _zm_readers()[reader](buf)
