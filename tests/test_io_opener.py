"""The object-store seam (gdal_spark.io): every ranged reader routes
ALL byte access — driver and executors — through its ``opener``.
Proof by remap: the PrefixOpener serves path → path+".shadow"; the
original path does not exist, so any bare open() fails loudly."""

import os
import shutil

import numpy as np
import pandas as pd
import pytest

from gdal_spark import fgb, pmtiles, wkb
from gdal_spark.io import PrefixOpener, local_opener


def _shadow(tmp_path, name: str, blob: bytes) -> str:
    """Write blob ONLY at <name>.shadow; return the virtual path."""
    p = str(tmp_path / name)
    with open(p + ".shadow", "wb") as f:
        f.write(blob)
    assert not os.path.exists(p)
    return p


def test_read_fgb_all_bytes_via_opener(spark, tmp_path):
    rng = np.random.default_rng(3)
    n = 500
    pdf = pd.DataFrame({
        "gid": np.arange(n),
        "geometry": [
            wkb.point(float(x), float(y))
            for x, y in rng.uniform(0, 100, (n, 2))
        ],
    })
    p = _shadow(tmp_path, "pts.fgb", fgb.fgb_encode(pdf))
    out = fgb.read_fgb(
        spark, p, records_per_task=100, opener=PrefixOpener()
    ).toPandas()
    assert sorted(out["gid"]) == list(range(n))
    # bbox path exercises the index read through the opener too
    hit = fgb.read_fgb(
        spark, p, bbox=(0, 0, 50, 50), opener=PrefixOpener()
    ).toPandas()
    assert len(hit) > 0
    # and the virtual path genuinely has no bare-open fallback
    with pytest.raises(FileNotFoundError):
        fgb.read_fgb(spark, p).toPandas()


def test_read_pmtiles_all_bytes_via_opener(spark, tmp_path):
    tiles = [
        (3, x, y, bytes(f"t{x}.{y}", "ascii"))
        for x in range(8) for y in range(8)
    ]
    p = _shadow(
        tmp_path, "a.pmtiles", pmtiles.pmtiles_encode(tiles, fmt="png")
    )
    out = pmtiles.read_pmtiles(
        spark, p, tiles_per_task=16, opener=PrefixOpener()
    ).toPandas()
    assert len(out) == 64
    with pytest.raises(FileNotFoundError):
        pmtiles.read_pmtiles(spark, p).toPandas()


def test_read_gtiff_ranged_all_bytes_via_opener(spark, tmp_path):
    from gdal_spark.gtiff import read_gtiff_ranged, tiff_encode

    a = (np.arange(64 * 48, dtype=np.uint16) % 251).reshape(48, 64)
    blob = tiff_encode(a, tile=(32, 32))
    p = _shadow(tmp_path, "r.tif", blob)
    df = read_gtiff_ranged(spark, [p], opener=PrefixOpener())
    got = df.toPandas()
    assert got["w"].count() > 0
    total = sum(
        np.frombuffer(r["data"], dtype=np.uint16).sum()
        for _, r in got.iterrows()
    )
    assert total == int(a.astype(np.int64).sum())


def test_read_shapefile_ranged_all_bytes_via_opener(spark, tmp_path):
    from gdal_spark.shapefile import read_shapefile_ranged, write_shp

    geoms = [wkb.point(float(i), float(2 * i)) for i in range(50)]
    shp, shx = write_shp(geoms)
    base = str(tmp_path / "pts")
    with open(base + ".shp.shadow", "wb") as f:
        f.write(shp)
    with open(base + ".shx.shadow", "wb") as f:
        f.write(shx)
    out = read_shapefile_ranged(
        spark, base + ".shp", records_per_task=20,
        schema="fid long, geometry binary",
        opener=PrefixOpener(),
    ).toPandas()
    assert len(out) == 50
    assert bytes(out.sort_values("fid")["geometry"].iloc[7]) == geoms[7]


def test_read_shapefile_ranged_schema_via_opener(spark, tmp_path):
    """No ``schema=``: the .dbf descriptors are read through the
    opener too."""
    from gdal_spark.shapefile import (
        read_shapefile_ranged, write_dbf, write_shp,
    )

    geoms = [wkb.point(float(i), 1.0) for i in range(30)]
    shp, shx = write_shp(geoms)
    dbf = write_dbf(pd.DataFrame({
        "name": [f"n{i}" for i in range(30)], "rank": range(30),
    }))
    base = str(tmp_path / "attrs")
    for ext, blob in ((".shp", shp), (".shx", shx), (".dbf", dbf)):
        _shadow(tmp_path, "attrs" + ext, blob)
    out = read_shapefile_ranged(
        spark, base + ".shp", records_per_task=7, opener=PrefixOpener()
    ).toPandas().sort_values("fid")
    assert out["name"].tolist() == [f"n{i}" for i in range(30)]
    assert out["rank"].tolist() == list(range(30))
    assert [bytes(g) for g in out["geometry"]] == geoms


def test_read_geojson_via_opener(spark, tmp_path):
    import json

    from gdal_spark.geojson import read_geojson

    fc = {"type": "FeatureCollection", "features": [
        {"type": "Feature", "id": i, "properties": {"i": i},
         "geometry": {"type": "Point", "coordinates": [i, 0]}}
        for i in range(4)
    ]}
    p = _shadow(tmp_path, "fc.geojson", json.dumps(fc).encode())
    out = read_geojson(spark, [p], opener=PrefixOpener()).toPandas()
    assert sorted(out["feature_id"]) == ["0", "1", "2", "3"]
    with pytest.raises(Exception, match="No such file"):
        read_geojson(spark, [p]).collect()


def test_tile_index_via_opener(spark, tmp_path):
    from gdal_spark.gtiff import tiff_encode, tile_index

    a = np.zeros((16, 24), dtype=np.uint8)
    p = _shadow(tmp_path, "t.tif", tiff_encode(
        a, geotransform=(5.0, 1.0, 0.0, 20.0, 0.0, -1.0), epsg=4326,
    ))
    (r,) = tile_index(spark, [p], opener=PrefixOpener()).collect()
    assert (r.width, r.height, r.epsg) == (24, 16, 4326)
    assert (r.minx, r.maxy) == (5.0, 20.0)


def test_read_osm_ways_via_opener(spark, tmp_path):
    from gdal_spark.osmpbf import read_osm_ways, write_osm_pbf

    nodes = [(i, float(i), 0.0, {}) for i in range(1, 4)]
    ways = [(9, [1, 2, 3], {"highway": "path"})]
    real = str(tmp_path / "w.osm.pbf.shadow")
    write_osm_pbf(real, nodes=nodes, ways=ways)
    p = real[: -len(".shadow")]
    (w,) = read_osm_ways(spark, p, opener=PrefixOpener()).collect()
    assert (w.id, list(w.refs)) == (9, [1, 2, 3])


def test_read_osm_pbf_all_bytes_via_opener(spark, tmp_path):
    from gdal_spark.osmpbf import read_osm_pbf, write_osm_pbf

    nodes = [
        (1, 1.0, 4.0, {"a": "b"}),
        (2, 2.0, 5.0, {}),
        (3, 3.0, 6.0, {}),
    ]
    real = str(tmp_path / "x.osm.pbf.shadow")
    write_osm_pbf(real, nodes=nodes)
    p = real[: -len(".shadow")]
    out = read_osm_pbf(spark, p, opener=PrefixOpener()).toPandas()
    assert sorted(out["id"]) == [1, 2, 3]


def test_local_opener_is_plain_open(tmp_path):
    p = str(tmp_path / "f.bin")
    with open(p, "wb") as f:
        f.write(b"abc")
    with local_opener(p) as f:
        f.seek(1)
        assert f.read() == b"bc"
