"""The chunked-scan skeleton (gdal_spark.io.scan_chunks): every
chunked reader places exactly one task per chunk, and building the
reader — plan plus partition count — runs no Spark job and plans no
exchange."""

import json

import numpy as np
import pandas as pd
import pytest

from gdal_spark import fgb, geojson, gpkg, mbtiles, osmpbf, wkb
from gdal_spark import shapefile as shpf
from gdal_spark.io import scan_chunks


def _points(n):
    return [wkb.point(float(i), float(i % 7)) for i in range(n)]


def _fgb(spark, tmp_path):
    p = str(tmp_path / "a.fgb")
    pdf = pd.DataFrame({"gid": np.arange(500), "geometry": _points(500)})
    with open(p, "wb") as f:
        f.write(fgb.fgb_encode(pdf))
    return lambda: fgb.read_fgb(spark, p, records_per_task=100), 5


def _osm_nodes(spark, tmp_path):
    p = str(tmp_path / "n.osm.pbf")
    nodes = [(i + 1, float(i % 90), 0.0, {}) for i in range(300)]
    osmpbf.write_osm_pbf(p, nodes, nodes_per_block=50)  # 6 data blobs
    return lambda: osmpbf.read_osm_pbf(spark, p, blobs_per_task=2), 3


def _osm_ways(spark, tmp_path):
    p = str(tmp_path / "w.osm.pbf")
    nodes = [(i + 1, float(i % 90), 0.0, {}) for i in range(300)]
    osmpbf.write_osm_pbf(
        p, nodes, [(1, [1, 2], {})], nodes_per_block=50
    )
    return lambda: osmpbf.read_osm_ways(spark, p), 6


def _shapefile(spark, tmp_path):
    shp, shx = shpf.write_shp(_points(57))
    base = str(tmp_path / "s")
    for ext, blob in (
        (".shp", shp), (".shx", shx),
        (".dbf", shpf.write_dbf(pd.DataFrame({"k": range(57)}))),
    ):
        with open(base + ext, "wb") as f:
            f.write(blob)
    return lambda: shpf.read_shapefile_ranged(
        spark, [base + ".shp"] * 2, records_per_task=10
    ), 12


def _gpkg(spark, tmp_path):
    src = spark.createDataFrame(
        pd.DataFrame({"k": range(40), "geometry": _points(40)})
    ).coalesce(1)
    (row,) = gpkg.write_gpkg_dir(src, str(tmp_path / "g")).collect()
    return lambda: gpkg.read_gpkg_ranged(
        spark, row.path, "features", rows_per_task=10
    ), 4


def _mbtiles(spark, tmp_path):
    out = str(tmp_path / "t.mbtiles")
    tiles = spark.createDataFrame(pd.DataFrame({
        "z": 3, "tx": np.repeat(np.arange(8), 8),
        "ty": np.tile(np.arange(8), 8), "data": [b"mvt"] * 64,
    }))
    mbtiles.write_mbtiles(tiles, out, format="pbf").collect()
    return lambda: mbtiles.read_mbtiles(spark, out, partitions=16), 16


def _geojson(spark, tmp_path):
    paths = []
    for i in range(3):
        p = tmp_path / f"f{i}.geojson"
        p.write_text(json.dumps({
            "type": "FeatureCollection",
            "features": [{
                "type": "Feature", "properties": {"i": i},
                "geometry": {"type": "Point", "coordinates": [i, 0]},
            }],
        }))
        paths.append(str(p))
    return lambda: geojson.read_geojson(spark, paths), 3


@pytest.mark.parametrize(
    "fixture",
    [_fgb, _osm_nodes, _osm_ways, _shapefile, _gpkg, _mbtiles, _geojson],
    ids=lambda f: f.__name__.lstrip("_"),
)
def test_one_task_per_chunk_no_job_no_exchange(spark, tmp_path, fixture):
    build, n_chunks = fixture(spark, tmp_path)
    sc = spark.sparkContext
    group = f"scan-build-{fixture.__name__}"
    sc.setJobGroup(group, "plan build only")
    try:
        df = build()
        n_parts = df.rdd.getNumPartitions()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert jobs == 0
    assert n_parts == n_chunks
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert df.count() > 0


def test_scan_chunks_empty_and_order(spark):
    empty = scan_chunks(spark, [], None, "v long")
    assert empty.columns == ["v"] and empty.count() == 0
    df = scan_chunks(
        spark, [(0, 3), (3, 3), (3, 8)],
        lambda c: pd.DataFrame({"v": range(*c)}), "v long",
    )
    assert df.rdd.getNumPartitions() == 3
    assert [r.v for r in df.collect()] == list(range(8))
