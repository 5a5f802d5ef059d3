"""OSM PBF (ogr/ogrsf_frmts/osm; fileformat/osmformat.proto) tests:
delta-sint packing, blob framing with zlib, dense-node and way
round trips, the blob-index ranged distributed scan, and coordinate
quantization semantics."""

import json
import os
import struct
import zlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from gdal_spark import osmpbf


def test_delta_sint_round_trip():
    vals = np.array([100, 99, -5, -5, 1000000, 0], dtype=np.int64)
    buf = osmpbf._pack_delta_sint(vals)
    back = osmpbf._unpack_delta_sint(buf)
    np.testing.assert_array_equal(back, vals)


def test_blob_framing_and_zlib():
    payload = b"hello osm" * 100
    framed = osmpbf._frame_blob("OSMData", payload)
    (hlen,) = struct.unpack_from(">i", framed, 0)
    frames = list(osmpbf._read_frames(framed))
    assert len(frames) == 1
    btype, off, hend, dsize = frames[0]
    assert btype == "OSMData"
    assert hend == 4 + hlen
    blob = framed[hend : hend + dsize]
    assert osmpbf._blob_payload(blob) == payload
    # and the zlib branch actually compressed
    assert len(framed) < len(payload)


def _fixture(n=500):
    rng = np.random.default_rng(9)
    nodes = []
    for i in range(n):
        tags = {"name": f"n{i}", "amenity": "cafe"} if i % 7 == 0 else {}
        nodes.append(
            (
                1000 + i,
                float(rng.uniform(-179, 179)),
                float(rng.uniform(-85, 85)),
                tags,
            )
        )
    ways = [
        (1, [1000, 1001, 1002], {"highway": "residential"}),
        (2, [1005, 1010], {}),
    ]
    return nodes, ways


def test_primitive_block_round_trip():
    nodes, ways = _fixture(50)
    payload = osmpbf.encode_primitive_block(nodes, ways)
    back_nodes, back_ways = osmpbf.decode_primitive_block(payload)
    assert back_nodes["id"] == [n[0] for n in nodes]
    # granularity 100 => 1e-7 degree quantization
    np.testing.assert_allclose(
        back_nodes["lon"], [n[1] for n in nodes], atol=1e-7
    )
    np.testing.assert_allclose(
        back_nodes["lat"], [n[2] for n in nodes], atol=1e-7
    )
    assert back_nodes["tags"][0] == nodes[0][3]
    assert back_nodes["tags"][1] == {}
    assert back_ways == [(w[0], w[1], w[2]) for w in ways]


def test_file_write_and_blob_index(tmp_path):
    nodes, ways = _fixture(500)
    p = str(tmp_path / "t.osm.pbf")
    n_blobs = osmpbf.write_osm_pbf(p, nodes, ways, nodes_per_block=100)
    assert n_blobs == 1 + 5  # header + 5 data blobs
    idx = osmpbf.blob_index(p)
    assert len(idx) == 5  # OSMHeader excluded


def test_distributed_scan_matches_fixture(spark, tmp_path):
    nodes, ways = _fixture(500)
    p = str(tmp_path / "d.osm.pbf")
    osmpbf.write_osm_pbf(p, nodes, ways, nodes_per_block=100)

    df = osmpbf.read_osm_pbf(spark, p).orderBy("id")
    got = df.collect()
    assert len(got) == 500
    assert [r["id"] for r in got] == [n[0] for n in nodes]
    cafe = [r for r in got if r["id"] == 1000][0]
    assert json.loads(cafe["tags"]) == {"amenity": "cafe", "name": "n0"}
    # Spark-native tag access
    n_cafes = df.filter(
        F.get_json_object("tags", "$.amenity") == "cafe"
    ).count()
    assert n_cafes == len([n for n in nodes if n[3]])

    wdf = osmpbf.read_osm_ways(spark, p).orderBy("id").collect()
    assert [w["id"] for w in wdf] == [1, 2]
    assert list(wdf[0]["refs"]) == [1000, 1001, 1002]
    assert json.loads(wdf[0]["tags"]) == {"highway": "residential"}


def test_scan_parallelism_is_per_blob(spark, tmp_path):
    nodes, _ = _fixture(300)
    p = str(tmp_path / "p.osm.pbf")
    osmpbf.write_osm_pbf(p, nodes, nodes_per_block=50)
    # 6 data blobs -> each decodes independently; totals must agree
    # at any blobs_per_task granularity
    a = osmpbf.read_osm_pbf(spark, p, blobs_per_task=1).count()
    b = osmpbf.read_osm_pbf(spark, p, blobs_per_task=6).count()
    assert a == b == 300


def test_blob_index_touches_only_framing_bytes(tmp_path):
    """The driver-side index walks length+BlobHeader frames and seeks
    past blob bodies — bytes READ must be O(blobs · header), not the
    file size (a planet .osm.pbf is ~80 GB; buffering it would OOM
    the driver)."""
    import builtins

    nodes, ways = _fixture(2000)
    p = str(tmp_path / "big.osm.pbf")
    osmpbf.write_osm_pbf(p, nodes, ways, nodes_per_block=100)
    file_size = os.path.getsize(p)

    counted = {"n": 0}
    real_open = builtins.open

    class _CountingFile:
        def __init__(self, f):
            self._f = f

        def read(self, n=-1):
            data = self._f.read(n)
            counted["n"] += len(data)
            return data

        def seek(self, *a):
            return self._f.seek(*a)

        def tell(self):
            return self._f.tell()

        def __enter__(self):
            return self

        def __exit__(self, *a):
            self._f.close()

    def patched_open(path, mode="r", *a, **kw):
        return _CountingFile(real_open(path, mode, *a, **kw))

    import unittest.mock as mock

    with mock.patch.object(osmpbf, "open", patched_open, create=True):
        idx = osmpbf.blob_index(p)
    assert len(idx) == 20
    # framing is ~16 bytes/blob; allow generous slack but pin far
    # below the file size
    assert counted["n"] < min(file_size // 2, 21 * 64)
    assert counted["n"] < file_size


def _cut_file(tmp_path, cut):
    """Header + 5 data blobs, truncated ``cut(last_frame_start)``
    bytes in."""
    nodes, ways = _fixture(500)
    p = str(tmp_path / "cut.osm.pbf")
    osmpbf.write_osm_pbf(p, nodes, ways, nodes_per_block=100)
    with open(p, "rb") as f:
        buf = f.read()
    last = list(osmpbf._read_frames(buf))[-1][1]
    with open(p, "wb") as f:
        f.write(buf[: cut(last)])
    return p


@pytest.mark.parametrize(
    "cut, what",
    [
        (lambda last: last + 2, "blob length"),
        (lambda last: last + 4 + 3, "BlobHeader"),
        (lambda last: last - 1, "blob"),
    ],
    ids=["length", "header", "body"],
)
def test_blob_index_truncated_file_raises(tmp_path, cut, what):
    p = _cut_file(tmp_path, cut)
    with pytest.raises(ValueError, match=f"truncated {what}"):
        osmpbf.blob_index(p)
    with open(p, "rb") as f:
        buf = f.read()
    with pytest.raises(ValueError, match=f"truncated {what}"):
        list(osmpbf._read_frames(buf))
