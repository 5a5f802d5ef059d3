"""The benchmark's workloads: inputs, one job, and its correctness check.

Each workload is a closed loop with one client: the benchmark builds a
job's plan, runs its action, waits for the result and checks it
before it submits the next job. A round is the unit of steady-state
throughput: one job, or for vector_copy one FlatGeobuf translation
followed by one GeoPackage translation.

Spans name the layer (repository module) whose public function the
benchmark is calling; actions are the ``spark`` layer.
"""

from __future__ import annotations

import hashlib
import os
import sqlite3
import time
from dataclasses import dataclass

import numpy as np
import pandas as pd

from perfbench import fixtures

PAGES = 150_000
TILE_PAGES = 50_000
POLYGONS = 100
RES_MIN, RES_MAX = 2, 7
ZOOM = 3
TILE_SIZE = 256
FEATURES = 10_000
RECORDS_PER_TASK = 1_250
TILE_SCHEMA = "z long, tx long, ty long, data binary"


@dataclass
class JobResult:
    kind: str
    items: int
    ok: bool
    wall: float  # plan build + action, seconds; the check is excluded
    plans: tuple = ()  # executed QueryExecutions, read by a traced run
    hits: int | None = None


def png_tiles(batches):
    """mapInPandas body: raw uint8 tiles → PNG payloads."""
    from gdal_spark.png import png_encode

    for pdf in batches:
        rows = [
            (int(r.z), int(r.tx), int(r.ty),
             png_encode(np.frombuffer(r.data, dtype=np.uint8)
                        .reshape(int(r.h), int(r.w))))
            for r in pdf.itertuples(index=False)
        ]
        yield pd.DataFrame(rows, columns=["z", "tx", "ty", "data"])


def _timed_median(fn, reps: int = 3) -> float:
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return float(np.median(times))


def _extract_kernel(fx: dict, tr) -> float:
    """Microseconds per page of ``extract_features_pdf`` on the first
    parquet part of the pages fixture."""
    from gdal_spark.operators.extract import extract_features_pdf

    first = sorted(os.listdir(fx["dir"]))[0]
    batch = pd.read_parquet(os.path.join(fx["dir"], first))
    with tr.span("extract_features_pdf", "extract"):
        return _timed_median(lambda: extract_features_pdf(batch)) \
            / len(batch) * 1e6


class PipJoin:
    """pages → extract_features → spatial_join → per-polygon counts."""

    name = "pip_join"
    unit = "pages"
    round_kinds = ("pip",)

    def prepare(self, root: str, seed: int, workers: int) -> dict:
        from gdal_spark import testdata

        fx = fixtures.pages(root, seed, PAGES, workers)
        lon, lat = fixtures.load_points(fx)
        self.polygons = testdata.polygons_pdf(POLYGONS)
        self.oracle = fixtures.pip_oracle(lon, lat, self.polygons)
        self.fx = fx
        return fx

    def open(self, spark, tr) -> None:
        with tr.span("read.parquet", "spark"):
            self.pages = spark.read.parquet(self.fx["dir"])

    def job(self, spark, kind: str, out_dir: str, tr) -> JobResult:
        from gdal_spark.operators.extract import extract_features
        from gdal_spark.operators.spatial_join import spatial_join

        t0 = time.perf_counter()
        with tr.span("extract_features", "extract"):
            feats = extract_features(self.pages)
        with tr.span("spatial_join", "cover"):
            joined = spatial_join(feats, self.polygons,
                                  res_min=RES_MIN, res_max=RES_MAX)
        counts = joined.groupBy("poly_id").count()
        with tr.span("collect", "spark"):
            rows = counts.collect()
        wall = time.perf_counter() - t0
        with tr.span("verify", "perfbench"):
            got = {int(r[0]): int(r[1]) for r in rows}
            ok = got == self.oracle
        return JobResult(kind, self.fx["pages"], ok, wall,
                         (counts._jdf.queryExecution(),),
                         sum(got.values()))

    def kernels(self, tr, out_dir: str) -> dict:
        from gdal_spark import geometry, wkb

        lon, lat = fixtures.load_points(self.fx)
        cands = []
        for buf in self.polygons["geom_wkb"]:
            for part in wkb.polygon_rings(bytes(buf)):
                o = np.asarray(part[0])
                idx = np.nonzero(
                    (lon >= o[:, 0].min()) & (lon <= o[:, 0].max())
                    & (lat >= o[:, 1].min()) & (lat <= o[:, 1].max()))[0]
                cands.append((lon[idx], lat[idx], part))
        n = sum(c[0].size for c in cands)

        def pip_all():
            for x, y, part in cands:
                geometry.points_in_polygon(x, y, part)

        with tr.span("points_in_polygon", "geometry"):
            per_cand = _timed_median(pip_all) / max(n, 1)
        return {"extract.kernel_us_per_page": _extract_kernel(self.fx, tr),
                "geometry.pip_ns_per_candidate": per_cand * 1e9}


class TilePyramid:
    """pages → extract → burn_points_tiles → pyramid → png → pmtiles."""

    name = "tile_pyramid"
    unit = "tiles"
    round_kinds = ("tiles",)

    def prepare(self, root: str, seed: int, workers: int) -> dict:
        fx = fixtures.pages(root, seed, TILE_PAGES, workers)
        lon, lat = fixtures.load_points(fx)
        self.oracle = fixtures.tile_oracle(lon, lat, ZOOM, TILE_SIZE)
        self.fx = fx
        return fx

    def open(self, spark, tr) -> None:
        with tr.span("read.parquet", "spark"):
            self.pages = spark.read.parquet(self.fx["dir"])

    def job(self, spark, kind: str, out_dir: str, tr) -> JobResult:
        from gdal_spark.operators.extract import extract_features
        from gdal_spark.operators.tiling import burn_points_tiles, pyramid
        from gdal_spark.pmtiles import write_pmtiles_dir

        t0 = time.perf_counter()
        with tr.span("extract_features", "extract"):
            feats = extract_features(self.pages)
        with tr.span("burn_points_tiles+pyramid", "tiling"):
            tiles = pyramid(burn_points_tiles(feats, ZOOM, TILE_SIZE),
                            ZOOM, 0)
        with tr.span("png_tiles", "png"):
            encoded = tiles.mapInPandas(png_tiles, TILE_SCHEMA)
        with tr.span("write_pmtiles_dir", "pmtiles"):
            manifest = write_pmtiles_dir(encoded, out_dir, fmt="png",
                                         group_col="z")
        with tr.span("collect", "spark"):
            rows = manifest.collect()
        wall = time.perf_counter() - t0
        with tr.span("verify", "perfbench"):
            ok = self._verify(out_dir, rows)
        # the sink asked ``encoded`` for its partition count, which ran
        # the pyramid's shuffle stages in a query of its own
        plans = (manifest._jdf.queryExecution(),
                 encoded._jdf.queryExecution())
        return JobResult(kind, sum(int(r.n_tiles) for r in rows), ok, wall,
                         plans)

    @staticmethod
    def _read_back(out_dir: str) -> pd.DataFrame:
        from gdal_spark.pmtiles import pmtiles_decode

        parts = []
        for f in sorted(os.listdir(out_dir)):
            if f.endswith(".pmtiles"):
                with open(os.path.join(out_dir, f), "rb") as fh:
                    parts.append(pmtiles_decode(fh.read()))
        return pd.concat(parts, ignore_index=True)

    def _verify(self, out_dir: str, rows) -> bool:
        from gdal_spark.png import png_decode

        back = self._read_back(out_dir)
        per_zoom = {str(z): int(n) for z, n in
                    back.groupby("z").size().items()}
        if per_zoom != self.oracle["per_zoom"]:
            return False
        if sum(int(r.n_tiles) for r in rows) != len(back):
            return False
        base = back[back["z"] == ZOOM]
        got = {
            f"{int(r.tx)}/{int(r.ty)}": hashlib.sha1(
                png_decode(bytes(r.data)).tobytes()).hexdigest()
            for r in base.itertuples(index=False)
        }
        return got == self.oracle["base_digests"]

    def kernels(self, tr, out_dir: str) -> dict:
        from gdal_spark.pmtiles import pmtiles_encode
        from gdal_spark.png import png_decode, png_encode

        back = self._read_back(out_dir)
        base = back[back["z"] == ZOOM]
        arrays = [png_decode(bytes(d)) for d in base["data"]]
        with tr.span("png_encode", "png"):
            per_tile = _timed_median(
                lambda: [png_encode(a) for a in arrays]) / len(arrays)
        tiles = [(int(r.z), int(r.tx), int(r.ty), bytes(r.data))
                 for r in base.itertuples(index=False)]
        with tr.span("pmtiles_encode", "pmtiles"):
            per_archive = _timed_median(lambda: pmtiles_encode(tiles))
        return {
            "extract.kernel_us_per_page": _extract_kernel(self.fx, tr),
            "png.encode_ms_per_tile": per_tile * 1e3,
            "png.bytes_per_tile": float(back["data"].map(len).mean()),
            "pmtiles.encode_ms_per_archive": per_archive * 1e3,
        }


class VectorCopy:
    """ogr2ogr rig: FlatGeobuf → FlatGeobuf, GeoPackage → GeoPackage."""

    name = "vector_copy"
    unit = "features"
    round_kinds = ("fgb", "gpkg")

    def prepare(self, root: str, seed: int, workers: int) -> dict:
        self.fx = fixtures.vector(root, seed, FEATURES)
        return self.fx

    def open(self, spark, tr) -> None:
        from gdal_spark import fgb, gpkg

        # driver-side header/index and rowid-range reads of both sources
        with tr.span("read_fgb", "fgb"):
            fgb.read_fgb(spark, self.fx["fgb"],
                         records_per_task=RECORDS_PER_TASK)
        with tr.span("read_gpkg_ranged", "gpkg"):
            gpkg.read_gpkg_ranged(spark, self.fx["gpkg"], fixtures.GPKG_TABLE,
                                  rows_per_task=RECORDS_PER_TASK)

    def job(self, spark, kind: str, out_dir: str, tr) -> JobResult:
        from gdal_spark import fgb, gpkg

        t0 = time.perf_counter()
        if kind == "fgb":
            with tr.span("read_fgb", "fgb"):
                src = fgb.read_fgb(spark, self.fx["fgb"],
                                   records_per_task=RECORDS_PER_TASK)
            src = src.drop("fid")
            with tr.span("write_fgb_dir", "fgb"):
                manifest = fgb.write_fgb_dir(src, out_dir)
        else:
            with tr.span("read_gpkg_ranged", "gpkg"):
                src = gpkg.read_gpkg_ranged(
                    spark, self.fx["gpkg"], fixtures.GPKG_TABLE,
                    rows_per_task=RECORDS_PER_TASK)
            src = src.drop("rowid", "fid")
            with tr.span("write_gpkg_dir", "gpkg"):
                manifest = gpkg.write_gpkg_dir(
                    src, out_dir, table=fixtures.GPKG_TABLE)
        with tr.span("collect", "spark"):
            rows = manifest.collect()
        wall = time.perf_counter() - t0
        with tr.span("verify", "perfbench"):
            n = sum(int(r.n_rows) for r in rows)
            ok = (n == self.fx["features"]
                  and self._digest(kind, out_dir) == self.fx["digest"])
        plans = (manifest._jdf.queryExecution(),
                 src._jdf.queryExecution())
        return JobResult(kind, n, ok, wall, plans)

    @staticmethod
    def _digest(kind: str, out_dir: str) -> str:
        from gdal_spark import fgb, gpkg

        names = [f"field{i}" for i in range(fixtures.N_FIELDS)]
        cols: list[list] = [[] for _ in names]
        geoms: list[bytes] = []
        for f in sorted(os.listdir(out_dir)):
            path = os.path.join(out_dir, f)
            if kind == "fgb" and f.endswith(".fgb"):
                with open(path, "rb") as fh:
                    pdf = fgb.fgb_decode(fh.read())
                for c, name in zip(cols, names):
                    c.extend(pdf[name].tolist())
                geoms.extend(bytes(g) for g in pdf["geometry"])
            elif kind == "gpkg" and f.endswith(".gpkg"):
                con = sqlite3.connect(f"file:{path}?mode=ro", uri=True)
                try:
                    sel = ", ".join(f'"{n}"' for n in names)
                    for row in con.execute(
                            f'SELECT {sel}, "geometry" FROM '
                            f'"{fixtures.GPKG_TABLE}"'):
                        for c, v in zip(cols, row[:-1]):
                            c.append(v)
                        geoms.append(gpkg.gpb_to_wkb(row[-1]))
                finally:
                    con.close()
        return fixtures.row_digest(cols, geoms)

    def kernels(self, tr, out_dir: str) -> dict:
        from gdal_spark import fgb, gpkg

        with open(self.fx["fgb"], "rb") as fh:
            blob = fh.read()
        n = self.fx["features"]
        with tr.span("fgb_decode", "fgb"):
            decode = _timed_median(lambda: fgb.fgb_decode(blob)) / n
        frame = fgb.fgb_decode(blob).drop(columns=["fid"])
        with tr.span("fgb_encode", "fgb"):
            encode = _timed_median(lambda: fgb.fgb_encode(frame)) / n
        geoms = [bytes(g) for g in frame["geometry"]]
        with tr.span("wkb_to_gpb", "gpkg"):
            gpb = _timed_median(
                lambda: [gpkg.wkb_to_gpb(g) for g in geoms]) / n
        return {"fgb.decode_us_per_feature": decode * 1e6,
                "fgb.encode_us_per_feature": encode * 1e6,
                "gpkg.encode_us_per_feature": gpb * 1e6}


WORKLOADS = {w.name: w for w in (PipJoin, TilePyramid, VectorCopy)}
