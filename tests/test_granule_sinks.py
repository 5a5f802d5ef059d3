"""The granule sink behind the five vector writers
(gdal_spark.io.write_granules) and the commit step every task-side
writer publishes its files with (gdal_spark.io.commit)."""

import json
import os
import sys
from concurrent.futures import ThreadPoolExecutor

import pyarrow.parquet as pq
import pytest

from gdal_spark import fgb, geojson, geoparquet, gpkg, io
from gdal_spark import shapefile as shpf


def _read(path, mode="rb"):
    with open(path, mode) as f:
        return f.read()


# sink -> (writer, extensions, gids stored in one written granule)
SINKS = {
    "fgb": (
        fgb.write_fgb_dir, [".fgb"],
        lambda p: fgb.fgb_decode(_read(p))["gid"].tolist(),
    ),
    "geojson": (
        geojson.write_geojson_seq, [".geojsonl"],
        lambda p: [
            json.loads(line)["properties"]["gid"]
            for line in _read(p, "r").splitlines()
        ],
    ),
    "geoparquet": (
        geoparquet.write_geoparquet, [".parquet"],
        lambda p: pq.read_table(p).column("gid").to_pylist(),
    ),
    "gpkg": (
        gpkg.write_gpkg_dir, [".gpkg"],
        lambda p: [r[0] for r in gpkg.sqlite_rows(
            p, "SELECT gid FROM features ORDER BY fid")],
    ),
    "shapefile": (
        shpf.write_shapefile_dir, [".shp", ".shx", ".dbf"],
        lambda p: shpf.read_dbf(
            _read(p[: -len(".shp")] + ".dbf"))["gid"].tolist(),
    ),
}


@pytest.mark.parametrize(
    "sink", ["geojson", "geoparquet", "gpkg", "shapefile"]
)
def test_one_granule_per_input_partition(tmp_path, uneven_partitions,
                                         sink):
    """Twin of test_fgb::test_sink_stays_granule_parallel: partition k
    of an 8-partition input becomes exactly part-0000k (one file, or
    one .shp/.shx/.dbf set) holding that partition's rows in order,
    although the pinned exchange hands some tasks several
    partitions."""
    write, exts, gids = SINKS[sink]
    src, counts = uneven_partitions
    out = tmp_path / sink
    manifest = write(src, str(out)).toPandas()
    manifest = manifest.sort_values("path", ignore_index=True)
    assert [os.path.basename(p) for p in manifest["path"]] == [
        f"part-{k:05d}{exts[0]}" for k in range(8)
    ]
    assert sorted(os.listdir(out)) == sorted(
        f"part-{k:05d}{e}" for k in range(8) for e in exts
    )
    assert manifest["n_rows"].tolist() == counts
    for k, p in enumerate(manifest["path"]):
        assert gids(p) == list(range(100 * k, 100 * k + counts[k]))


@pytest.mark.parametrize("sink", sorted(SINKS))
def test_missing_geometry_column_raises_at_build(spark, tmp_path, sink):
    """Building a sink over a frame without its geometry column raises
    before any Spark job runs (and before the output directory is
    made), not as a KeyError inside a task."""
    df = spark.range(3).withColumnRenamed("id", "gid")
    out = tmp_path / "out"
    with pytest.raises(ValueError, match="geometry"):
        SINKS[sink][0](df, str(out))
    assert not out.exists()


def test_commit_concurrent_attempts(tmp_path):
    """Two attempts of one task publishing different payloads to the
    same path never share a tmp file: the path always holds one whole
    payload and no tmp file is left behind."""
    path = str(tmp_path / "part-00000.bin")
    payloads = [bytes([b]) * (1 << 20) for b in (1, 2)]
    seen = set()
    done = []

    def attempt(data):
        try:
            for _ in range(40):
                io.commit(path, data)
        finally:
            done.append(data)

    def read():
        while len(done) < len(payloads):
            if os.path.exists(path):
                seen.add(_read(path))

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(3) as pool:
            futures = [pool.submit(read)] + [
                pool.submit(attempt, p) for p in payloads
            ]
            for f in futures[1:] + futures[:1]:
                f.result(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert seen and seen <= set(payloads)
    assert _read(path) in payloads
    assert os.listdir(tmp_path) == ["part-00000.bin"]
