"""FlatGeobuf source/sink: flatbuffer codec round trips, packed
Hilbert R-tree exactness, ranged==file parity, granule sink."""

import os
import struct

import numpy as np
import pandas as pd
import pytest

from gdal_spark import fgb, wkb


def rect(x0, y0, x1, y1):
    return np.array(
        [[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]], float
    )


def _mixed_pdf():
    return pd.DataFrame({
        "name": ["a", "b", None, "d", "e", "f"],
        "val": [1, 2, 3, 4, 5, 6],
        "w": [1.5, 2.5, np.nan, 4.5, 5.5, 6.5],
        "flag": [True, False, True, False, True, False],
        "blob": [b"\x00\x01", b"", None, b"xyz", b"\xff", b"q"],
        "geometry": [
            wkb.point(1, 2),
            wkb.linestring([[0, 0], [5, 5], [10, 0]]),
            wkb.polygon([rect(0, 0, 10, 10), rect(4, 4, 6, 6)]),
            wkb.multipolygon(
                [[rect(0, 0, 2, 2)],
                 [rect(5, 5, 7, 7), rect(5.5, 5.5, 6, 6)]]
            ),
            wkb.multipoint([[1, 1], [2, 2]]),
            wkb.multilinestring(
                [np.array([[0, 0], [1, 1.0]]),
                 np.array([[2, 2], [3, 3.0]])]
            ),
        ],
    })


def test_codec_round_trip_all_types():
    pdf = _mixed_pdf()
    out = fgb.fgb_decode(fgb.fgb_encode(pdf))
    src_geo = {v: bytes(g) for v, g in zip(pdf["val"], pdf["geometry"])}
    src = pdf.set_index("val")
    assert sorted(out["val"]) == [1, 2, 3, 4, 5, 6]
    for _, r in out.iterrows():
        assert bytes(r["geometry"]) == src_geo[r["val"]]
        want_name = src.loc[r["val"], "name"]
        assert (r["name"] is None and want_name is None) or (
            r["name"] == want_name
        )
        assert r["flag"] == bool(src.loc[r["val"], "flag"])
        want_blob = src.loc[r["val"], "blob"]
        got_blob = r["blob"]
        assert (got_blob is None and want_blob is None) or (
            bytes(got_blob) == bytes(want_blob)
        )


def test_null_geometry_round_trip():
    pdf = pd.DataFrame({
        "val": [1, 2],
        "geometry": [None, wkb.point(3, 4)],
    })
    # indexed write refuses NULL geometry (the reference writer's
    # ICreateFeature behavior); unindexed round-trips it
    with pytest.raises(ValueError, match="null geometry"):
        fgb.fgb_encode(pdf)
    out = fgb.fgb_decode(fgb.fgb_encode(pdf, index=False))
    by = {r["val"]: r["geometry"] for _, r in out.iterrows()}
    assert by[1] is None
    assert bytes(by[2]) == wkb.point(3, 4)


def test_header_fields():
    pdf = _mixed_pdf()
    blob = fgb.fgb_encode(pdf, name="mylayer", node_size=4)
    cols, n, node_size, idx_start, feat_start, env = fgb._header_info(
        blob
    )
    assert n == 6 and node_size == 4
    assert [c for c, _ in cols] == ["name", "val", "w", "flag", "blob"]
    # envelope spans all finite geometry bboxes
    assert env[0] == 0.0 and env[1] == 0.0
    assert env[2] == 10.0 and env[3] == 10.0
    h = fgb._root(blob, 12)
    assert h.string(0) == "mylayer"
    assert h.scalar(2, "B", 0) == 0  # mixed geometry types → Unknown


def test_hilbert_curve_properties():
    # bijection on a small grid + unit-step adjacency (the defining
    # property of the curve)
    n = 64
    xs, ys = np.meshgrid(np.arange(n), np.arange(n))
    d = fgb.hilbert_d(xs.ravel(), ys.ravel(), n)
    assert sorted(d.tolist()) == list(range(n * n))
    order = np.argsort(d)
    px, py = xs.ravel()[order], ys.ravel()[order]
    steps = np.abs(np.diff(px)) + np.abs(np.diff(py))
    assert (steps == 1).all()


def test_rtree_search_equals_bruteforce():
    rng = np.random.default_rng(11)
    n = 777
    x0 = rng.uniform(0, 900, n)
    y0 = rng.uniform(0, 900, n)
    boxes = np.column_stack(
        [x0, y0, x0 + rng.uniform(1, 40, n), y0 + rng.uniform(1, 40, n)]
    )
    order = fgb._hilbert_order(boxes)
    sboxes = boxes[order]
    offsets = np.arange(n) * 100
    idx = fgb.build_rtree(sboxes, offsets, node_size=8)
    for bbox in [(0, 0, 1000, 1000), (100, 100, 200, 220),
                 (500.5, 0, 501, 900), (2000, 2000, 3000, 3000)]:
        got = set(fgb.rtree_search(idx, n, 8, bbox).tolist())
        bx0, by0, bx1, by1 = bbox
        hit = ~(
            (sboxes[:, 2] < bx0) | (sboxes[:, 0] > bx1)
            | (sboxes[:, 3] < by0) | (sboxes[:, 1] > by1)
        )
        want = set((np.arange(n)[hit] * 100).tolist())
        assert got == want


def test_read_fgb_ranged_equals_full(spark, tmp_path):
    rng = np.random.default_rng(5)
    n = 2000
    xs = rng.uniform(0, 1000, n)
    ys = rng.uniform(0, 1000, n)
    pdf = pd.DataFrame({
        "gid": np.arange(n),
        "score": rng.uniform(0, 1, n),
        "geometry": [
            wkb.point(float(x), float(y)) for x, y in zip(xs, ys)
        ],
    })
    p = str(tmp_path / "pts.fgb")
    open(p, "wb").write(fgb.fgb_encode(pdf))

    def key(df):
        return sorted(
            zip(df["gid"], df["fid"], df["score"],
                [bytes(g) for g in df["geometry"]])
        )

    full = fgb.read_fgb(spark, p).toPandas()
    ranged = fgb.read_fgb(spark, p, records_per_task=333).toPandas()
    assert len(full) == n
    assert key(full) == key(ranged)

    # bbox-pruned scan: exact for points (leaf box == the point)
    bbox = (100, 100, 300, 250)
    hit = fgb.read_fgb(spark, p, bbox=bbox).toPandas()
    inb = (xs >= 100) & (xs <= 300) & (ys >= 100) & (ys <= 250)
    assert set(hit["gid"]) == set(np.arange(n)[inb])


def test_read_fgb_no_index_framing_walk(spark, tmp_path):
    pdf = _mixed_pdf()
    p = str(tmp_path / "noidx.fgb")
    open(p, "wb").write(fgb.fgb_encode(pdf, index=False))
    out = fgb.read_fgb(spark, p).toPandas()
    assert sorted(out["val"]) == [1, 2, 3, 4, 5, 6]
    src_geo = {v: bytes(g) for v, g in zip(pdf["val"], pdf["geometry"])}
    for _, r in out.iterrows():
        assert bytes(r["geometry"]) == src_geo[r["val"]]


def test_write_fgb_dir_round_trip(spark, tmp_path):
    rng = np.random.default_rng(7)
    n = 400
    pdf = pd.DataFrame({
        "gid": np.arange(n),
        "geometry": [
            wkb.point(float(x), float(y))
            for x, y in rng.uniform(0, 100, (n, 2))
        ],
    })
    src = spark.createDataFrame(pdf).repartition(4)
    out_dir = str(tmp_path / "sink")
    manifest = fgb.write_fgb_dir(src, out_dir).toPandas()
    assert manifest["n_rows"].sum() == n
    got = pd.concat(
        [
            fgb.read_fgb(spark, p).toPandas()
            for p in sorted(manifest["path"])
        ],
        ignore_index=True,
    )
    assert sorted(got["gid"]) == list(range(n))
    src_geo = {g: bytes(w) for g, w in zip(pdf["gid"], pdf["geometry"])}
    for _, r in got.iterrows():
        assert bytes(r["geometry"]) == src_geo[r["gid"]]


def test_flatbuffer_defaults_and_absent_fields():
    """Reader returns declared defaults for absent slots (flatbuffers
    vtable contract)."""
    fb = fgb._FBuilder()
    t = fb.table({2: ("scalar", "B", 3)})
    buf = fb.finish(t, size_prefixed=False)
    tbl = fgb._root(buf, 0)
    assert tbl.scalar(2, "B", 0) == 3
    assert tbl.scalar(8, "Q", 42) == 42      # beyond vtable
    assert tbl.scalar(1, "B", 7) == 7        # absent slot
    assert tbl.table(0) is None
    assert tbl.vector(5) is None


def test_sink_stays_granule_parallel(tmp_path, uneven_partitions):
    """One granule per input partition: an 8-partition input writes
    exactly part-00000..part-00007, each holding that partition's
    rows. The sink's exchange is pinned to 8 partitions (a bare
    repartition("__pid") lets AQE collapse it into one task), and a
    task that receives several partitions still splits them."""
    src, counts = uneven_partitions
    out = tmp_path / "par"
    manifest = fgb.write_fgb_dir(src, str(out)).toPandas()
    manifest = manifest.sort_values("path", ignore_index=True)
    names = [f"part-{k:05d}.fgb" for k in range(8)]
    assert [os.path.basename(p) for p in manifest["path"]] == names
    assert sorted(os.listdir(out)) == names
    assert manifest["n_rows"].tolist() == counts
    for k, p in enumerate(manifest["path"]):
        with open(p, "rb") as f:
            gid = fgb.fgb_decode(f.read())["gid"]
        assert (gid // 100 == k).all() and len(gid) == counts[k]


def test_bbox_without_index_matches_indexed_semantics(spark, tmp_path):
    """bbox pruning must not depend on index presence: an unindexed
    file applies the same envelope filter post-decode (the old code
    silently returned everything)."""
    rng = np.random.default_rng(13)
    n = 400
    xs = rng.uniform(0, 1000, n)
    ys = rng.uniform(0, 1000, n)
    pdf = pd.DataFrame({
        "gid": np.arange(n),
        "geometry": [
            wkb.point(float(x), float(y)) for x, y in zip(xs, ys)
        ],
    })
    bbox = (200, 100, 500, 400)
    want = set(np.arange(n)[
        (xs >= 200) & (xs <= 500) & (ys >= 100) & (ys <= 400)
    ])
    for index in (True, False):
        p = str(tmp_path / f"i{index}.fgb")
        open(p, "wb").write(fgb.fgb_encode(pdf, index=index))
        hit = fgb.read_fgb(spark, p, bbox=bbox).toPandas()
        assert set(hit["gid"]) == want, f"index={index}"


def test_nonfinite_coords_with_index_rejected():
    pdf = pd.DataFrame({
        "gid": [1, 2],
        "geometry": [wkb.point(float("nan"), 2.0), wkb.point(3, 4)],
    })
    with pytest.raises(ValueError, match="non-finite"):
        fgb.fgb_encode(pdf)
    out = fgb.fgb_decode(fgb.fgb_encode(pdf, index=False))
    assert len(out) == 2


def test_fgb_arrival_stream_matches_batch(spark, tmp_path):
    """read_fgb_stream over a landing dir emits the same features as
    batch decode of the same files (same whole-blob kernel)."""
    import json

    land = str(tmp_path / "landing")
    os.makedirs(land)
    rng = np.random.default_rng(31)
    want = set()
    for b in range(3):
        pdf = pd.DataFrame({
            "gid": np.arange(b * 10, b * 10 + 10),
            "geometry": [
                wkb.point(float(x), float(y))
                for x, y in rng.uniform(0, 50, (10, 2))
            ],
        })
        blob = fgb.fgb_encode(pdf)
        with open(os.path.join(land, f"drop-{b}.fgb"), "wb") as f:
            f.write(blob)
        for rec in fgb.fgb_decode(blob).itertuples(index=False):
            want.add((int(rec.gid), bytes(rec.geometry)))

    q = (
        fgb.read_fgb_stream(spark, land)
        .writeStream.format("memory").queryName("fgb_stream")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = {
        (json.loads(r.attrs)["gid"], bytes(r.geometry))
        for r in spark.sql(
            "SELECT attrs, geometry FROM fgb_stream"
        ).collect()
    }
    assert got == want


def _corrupt_and_truncated():
    blob = fgb.fgb_encode(_mixed_pdf())
    return {
        "magic": b"xyz" + blob[3:],
        "preamble": blob[:8],
        "header": blob[:40],
    }


@pytest.mark.parametrize("case", ["magic", "preamble", "header"])
def test_fgb_decode_bad_header_raises_value_error(case):
    with pytest.raises(ValueError, match="FlatGeobuf"):
        fgb.fgb_decode(_corrupt_and_truncated()[case])


@pytest.mark.parametrize("case", ["magic", "preamble", "header"])
def test_read_fgb_bad_header_raises_value_error(spark, tmp_path, case):
    p = str(tmp_path / "bad.fgb")
    open(p, "wb").write(_corrupt_and_truncated()[case])
    with pytest.raises(ValueError, match="FlatGeobuf"):
        fgb.read_fgb(spark, p)


def _overlong_first_prefix(index: bool) -> bytes:
    """A 5-feature file whose first length prefix claims 1 MB."""
    pdf = _mixed_pdf().iloc[:5].reset_index(drop=True)
    blob = bytearray(fgb.fgb_encode(pdf, index=index))
    *_, feat_start, _ = fgb._header_info(bytes(blob))
    struct.pack_into("<I", blob, feat_start, 1 << 20)
    return bytes(blob)


def test_fgb_decode_overlong_length_prefix_raises():
    with pytest.raises(ValueError, match="claims 1048576 bytes"):
        fgb.fgb_decode(_overlong_first_prefix(index=False))


def test_read_fgb_overlong_length_prefix_raises(spark, tmp_path):
    p = str(tmp_path / "noidx.fgb")
    open(p, "wb").write(_overlong_first_prefix(index=False))
    with pytest.raises(ValueError, match="claims 1048576 bytes"):
        fgb.read_fgb(spark, p)
    # indexed: the task's run walk hits the same check
    p = str(tmp_path / "idx.fgb")
    open(p, "wb").write(_overlong_first_prefix(index=True))
    with pytest.raises(Exception, match="claims 1048576 bytes"):
        fgb.read_fgb(spark, p).collect()
