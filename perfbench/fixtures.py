"""Seeded benchmark inputs and the oracles that check results.

Inputs are built once per (kind, seed, size) under the checkout's
``.perfbench/cache`` and reused; building is never inside a timed
region. The program under test receives only the generated files:

* pages: ``testdata.page_fields`` over row ids offset by the seed,
  written as parquet ``(url, text)`` by a few child processes;
* vector: N points with 20 seeded string fields, written once as an
  indexed FlatGeobuf file and once as a GeoPackage.

Oracles are computed from the generated data with NumPy and the
engine's leaf kernels only (``geometry.points_in_polygon``, the
``mercator`` constants), never through Spark, cells or covers.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sqlite3
import subprocess
import sys
import time

import numpy as np

PAGE_PARTS = 8
CACHE_KEEP = 6
ID_STRIDE = 1 << 32


def _cache_dir(root: str, key: str) -> tuple[str, bool]:
    """(path, ready). Keeps at most CACHE_KEEP finished entries."""
    base = os.path.join(root, ".perfbench", "cache")
    path = os.path.join(base, key)
    if os.path.exists(os.path.join(path, "meta.json")):
        return path, True
    os.makedirs(base, exist_ok=True)
    done = sorted(
        (os.path.getmtime(os.path.join(base, d, "meta.json")), d)
        for d in os.listdir(base)
        if os.path.exists(os.path.join(base, d, "meta.json"))
    )
    for _, d in done[: max(0, len(done) - CACHE_KEEP + 1)]:
        shutil.rmtree(os.path.join(base, d), ignore_errors=True)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path, False


def _finish(path: str, meta: dict) -> dict:
    tmp = os.path.join(path, "meta.json.tmp")
    with open(tmp, "w") as f:
        json.dump(meta, f)
    os.replace(tmp, os.path.join(path, "meta.json"))
    return meta


def _load_meta(path: str) -> dict:
    with open(os.path.join(path, "meta.json")) as f:
        return json.load(f)


# ---------------------------------------------------------------------------
# pages
# ---------------------------------------------------------------------------


def mention_points(texts) -> tuple[np.ndarray, np.ndarray]:
    """Every "near (lon,lat)" mention in ``texts``, by string splitting
    (independent of the engine's extraction regex)."""
    lons, lats = [], []
    for t in texts:
        for chunk in t.split("near (")[1:]:
            pair = chunk.split(")", 1)[0]
            lon, lat = pair.split(",")
            lons.append(float(lon))
            lats.append(float(lat))
    return np.array(lons, dtype=np.float64), np.array(lats, dtype=np.float64)


def _write_pages_parts(root: str, specs: list[str]) -> None:
    """Child-process body: each spec ``k:lo:hi`` writes parquet part k
    of row ids [lo, hi) and the mention points in it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from gdal_spark import testdata

    for spec in specs:
        k, lo, hi = (int(x) for x in spec.split(":"))
        pdf = testdata.page_fields(np.arange(lo, hi, dtype=np.int64),
                                   columns=["text"])
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False),
                       os.path.join(root, "pages.parquet",
                                    f"part-{k:03d}.parquet"))
        lon, lat = mention_points(pdf["text"].tolist())
        np.savez(os.path.join(root, "points", f"part-{k:03d}.npz"),
                 lon=lon, lat=lat)


def pages(root: str, seed: int, n: int, workers: int) -> dict:
    """Parquet pages fixture + the mention points it contains."""
    path, ready = _cache_dir(root, f"pages-{seed}-{n}")
    if ready:
        return _load_meta(path)
    t0 = time.perf_counter()
    for d in ("pages.parquet", "points"):
        os.makedirs(os.path.join(path, d))
    offset = (seed % (1 << 30)) * ID_STRIDE
    bounds = np.linspace(0, n, PAGE_PARTS + 1).astype(np.int64)
    specs = [f"{k}:{offset + int(bounds[k])}:{offset + int(bounds[k + 1])}"
             for k in range(PAGE_PARTS)]
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p))
    procs = [
        subprocess.Popen([sys.executable, "-m", "perfbench.fixtures", path,
                          *specs[w::workers]], env=env)
        for w in range(min(workers, PAGE_PARTS))
    ]
    codes = [p.wait() for p in procs]
    if any(codes):
        raise RuntimeError(f"pages fixture writers exited with {codes}")
    pts = [np.load(os.path.join(path, "points", f"part-{k:03d}.npz"))
           for k in range(PAGE_PARTS)]
    np.save(os.path.join(path, "lon.npy"),
            np.concatenate([p["lon"] for p in pts]))
    np.save(os.path.join(path, "lat.npy"),
            np.concatenate([p["lat"] for p in pts]))
    shutil.rmtree(os.path.join(path, "points"))
    return _finish(path, {
        "dir": os.path.join(path, "pages.parquet"), "path": path,
        "pages": n, "seed": seed, "build_s": time.perf_counter() - t0,
    })


def load_points(meta: dict) -> tuple[np.ndarray, np.ndarray]:
    return (np.load(os.path.join(meta["path"], "lon.npy")),
            np.load(os.path.join(meta["path"], "lat.npy")))


def pip_oracle(lon: np.ndarray, lat: np.ndarray, polygons_pdf) -> dict:
    """{poly_id: number of points inside}: bbox prefilter, then
    ``geometry.points_in_polygon`` per part (boundary excluded, the
    spatial join's default)."""
    from gdal_spark import geometry, wkb

    out = {}
    for pid, buf in zip(polygons_pdf["poly_id"], polygons_pdf["geom_wkb"]):
        parts = wkb.polygon_rings(bytes(buf))
        inside = np.zeros(lon.size, dtype=bool)
        for part in parts:
            outer = np.asarray(part[0])
            box = ((lon >= outer[:, 0].min()) & (lon <= outer[:, 0].max())
                   & (lat >= outer[:, 1].min()) & (lat <= outer[:, 1].max()))
            idx = np.nonzero(box)[0]
            if idx.size:
                inside[idx] |= geometry.points_in_polygon(
                    lon[idx], lat[idx], part)
        if inside.any():
            out[int(pid)] = int(inside.sum())
    return out


def tile_oracle(lon: np.ndarray, lat: np.ndarray, zoom: int,
                tile_size: int) -> dict:
    """Driver-side point burn at ``zoom``: tiles per zoom level down to
    0 and a sha1 per base tile of its uint8 count raster (saturating
    at 255). Pixel math follows the mercator module's constants in the
    same operation order as its column expressions."""
    import math

    from gdal_spark import mercator

    n_px = (1 << zoom) * tile_size
    res = mercator.resolution(zoom, tile_size)
    latc = np.minimum(np.maximum(lat, -mercator.MAX_LAT), mercator.MAX_LAT)
    mx = lon * (mercator.ORIGIN / 180.0)
    my = (np.log(np.tan((latc + 90.0) * (math.pi / 360.0)))
          / (math.pi / 180.0) * (mercator.ORIGIN / 180.0))
    gx = np.clip(np.floor((mx + mercator.ORIGIN) / res), 0, n_px - 1)
    gy_up = np.clip(np.floor((my + mercator.ORIGIN) / res), 0, n_px - 1)
    gx = gx.astype(np.int64)
    gy = (n_px - 1) - gy_up.astype(np.int64)
    key, counts = np.unique(gy * n_px + gx, return_counts=True)
    gy, gx = np.divmod(key, n_px)
    tx, ty = gx // tile_size, gy // tile_size
    tiles = np.unique(ty * (1 << zoom) + tx)
    per_zoom = {}
    level = tiles
    for z in range(zoom, -1, -1):
        per_zoom[str(z)] = int(level.size)
        ltx, lty = level % (1 << z), level // (1 << z)
        level = np.unique((lty // 2) * (1 << max(z - 1, 0)) + ltx // 2)
    digests = {}
    order = np.argsort(ty * (1 << zoom) + tx, kind="stable")
    tile_id = (ty * (1 << zoom) + tx)[order]
    starts = np.flatnonzero(np.r_[True, tile_id[1:] != tile_id[:-1]])
    ends = np.r_[starts[1:], tile_id.size]
    for s, e in zip(starts, ends):
        sel = order[s:e]
        arr = np.zeros((tile_size, tile_size), dtype=np.int64)
        arr[gy[sel] % tile_size, gx[sel] % tile_size] = counts[sel]
        t = int(tile_id[s])
        digests[f"{t % (1 << zoom)}/{t // (1 << zoom)}"] = hashlib.sha1(
            np.minimum(arr, 255).astype(np.uint8).tobytes()).hexdigest()
    return {"per_zoom": per_zoom, "base_digests": digests}


# ---------------------------------------------------------------------------
# vector (the ogr2ogr rig shape: N points x 20 string fields)
# ---------------------------------------------------------------------------

N_FIELDS = 20
GPKG_TABLE = "layer"


def row_digest(field_cols: list, geoms: list) -> str:
    """Order-insensitive digest of (20 string fields, WKB) rows."""
    hashes = sorted(
        hashlib.sha1("\x1f".join(vals).encode() + b"\x1e" + bytes(g)).digest()
        for vals, g in zip(zip(*field_cols), geoms)
    )
    return hashlib.sha1(b"".join(hashes)).hexdigest()


def vector(root: str, seed: int, n: int) -> dict:
    """FlatGeobuf + GeoPackage copies of one seeded point layer."""
    import pandas as pd

    from gdal_spark import fgb, gpkg, wkb

    path, ready = _cache_dir(root, f"vector-{seed}-{n}")
    if ready:
        return _load_meta(path)
    t0 = time.perf_counter()
    rng = np.random.default_rng(seed % (1 << 63))
    fields = {
        f"field{i}": np.char.add(
            f"value{i}-", rng.integers(0, 1 << 30, n).astype(str)
        ).tolist()
        for i in range(N_FIELDS)
    }
    xs = 400000.0 + rng.integers(0, 1 << 24, n) / 16.0
    ys = rng.integers(0, 1 << 24, n) / 16.0
    geoms = [wkb.point(float(x), float(y)) for x, y in zip(xs, ys)]
    fgb_path = os.path.join(path, "src.fgb")
    with open(fgb_path, "wb") as f:
        f.write(fgb.fgb_encode(pd.DataFrame({**fields, "geometry": geoms})))
    gpkg_path = os.path.join(path, "src.gpkg")
    con = sqlite3.connect(gpkg_path)
    try:
        con.execute("PRAGMA application_id = 0x47504B47")
        for ddl in gpkg._GPKG_META_DDL:
            con.execute(ddl)
        con.execute("INSERT INTO gpkg_spatial_ref_sys VALUES "
                    "('undefined', 0, 'NONE', 0, 'undefined', NULL)")
        cols = ", ".join(f'"{c}" TEXT' for c in fields)
        con.execute(f'CREATE TABLE "{GPKG_TABLE}" (fid INTEGER PRIMARY KEY, '
                    f'{cols}, "geometry" BLOB)')
        names = ", ".join(f'"{c}"' for c in fields) + ', "geometry"'
        marks = ", ".join("?" * (N_FIELDS + 1))
        con.executemany(
            f'INSERT INTO "{GPKG_TABLE}" ({names}) VALUES ({marks})',
            (tuple(vals) + (gpkg.wkb_to_gpb(g),)
             for vals, g in zip(zip(*fields.values()), geoms)),
        )
        con.execute(
            "INSERT INTO gpkg_contents VALUES (?, 'features', ?, '', "
            "datetime('now'), ?, ?, ?, ?, 0)",
            (GPKG_TABLE, GPKG_TABLE, float(xs.min()), float(ys.min()),
             float(xs.max()), float(ys.max())),
        )
        con.execute(
            "INSERT INTO gpkg_geometry_columns VALUES "
            f"('{GPKG_TABLE}', 'geometry', 'POINT', 0, 0, 0)")
        con.commit()
    finally:
        con.close()
    return _finish(path, {
        "path": path, "fgb": fgb_path, "gpkg": gpkg_path, "features": n,
        "seed": seed, "digest": row_digest(list(fields.values()), geoms),
        "build_s": time.perf_counter() - t0,
    })


if __name__ == "__main__":
    _write_pages_parts(sys.argv[1], sys.argv[2:])
