"""Distributed raster/tiling operators over tile DataFrames.

The reference's raster engine (gdal2tiles.py / apps/gdalalg_raster_tile.cpp
/ alg/gdalwarpkernel.cpp / gcore/overview.cpp / alg/polygonize.cpp)
re-expressed for Spark's execution model: a raster IS a DataFrame of
tiles ``(z int, tx long, ty long, w int, h int, data binary)`` —
row 0 of ``data`` is the tile's top row, uint8 C-order unless noted.

Design notes (100 TB posture):

* **Point burn** pre-aggregates per-pixel counts JVM-side
  (groupBy(tile, pixel).count() gets map-side partial aggregation), so
  the shuffle carries at most one row per *lit pixel*, never per point.
  Only the tiny post-shuffle assembly runs in Python.
* **Overviews** are a single self-shuffle per level on the parent tile
  key — exactly gdal2tiles's create_overview_tile data flow
  (gdal2tiles.py:1471) with the 4-children group as a Spark groupBy.
  In ``pyramid`` that one exchange per level also serves the level's
  own output branch (AQE reuses it), so each overview tile is built
  once per job.
* **Warp** enumerates destination blocks on the driver (metadata only),
  computes each block's source-tile cover analytically from the affine
  transforms, and ships (dst block × src tile) pairs through an
  equi-join so each task gathers exactly the source window it needs —
  the moral equivalent of GDALWarpOperation::CollectChunkList
  (alg/gdalwarpoperation.cpp:930) with Spark partitioning as the
  memory-bounded chunking.
* **Polygonize** labels per tile in parallel, then merges across tiles
  through a border-pixel equi-join whose edge list (bounded by total
  tile perimeter, not area) is union-found on the driver — the
  scanline merge of alg/polygonize.cpp:73 turned into a two-level
  connected-components algorithm.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import mercator, raster

TILE_SCHEMA = T.StructType(
    [
        T.StructField("z", T.IntegerType()),
        T.StructField("tx", T.LongType()),
        T.StructField("ty", T.LongType()),
        T.StructField("w", T.IntegerType()),
        T.StructField("h", T.IntegerType()),
        T.StructField("data", T.BinaryType()),
    ]
)

CHECKSUM_SCHEMA = T.StructType(
    [
        T.StructField("z", T.IntegerType()),
        T.StructField("tx", T.LongType()),
        T.StructField("ty", T.LongType()),
        T.StructField("cks", T.LongType()),
    ]
)

PIXEL_SCHEMA = T.StructType(
    [
        T.StructField("gx", T.LongType()),
        T.StructField("gy", T.LongType()),
        T.StructField("val", T.LongType()),
    ]
)


def _tile_array(row_w: int, row_h: int, data: bytes) -> np.ndarray:
    return np.frombuffer(data, dtype=np.uint8).reshape(row_h, row_w)


# ---------------------------------------------------------------------------
# rasterize: point burn → XYZ tile pyramid base
# ---------------------------------------------------------------------------


def point_pixel_cols(
    points: DataFrame,
    zoom: int,
    tile_size: int,
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """JVM-side (codegen) mercator pixel assignment: each point →
    (tx, ty, ip, jp) in the XYZ (top-down) convention. A point's pixel
    is the containing integer pixel clamp(floor(px), 0, N-1); its tile
    is that pixel's tile (gx // tile_size) — boundary pixels therefore
    belong to the tile that renders them, which is the burn-side
    counterpart of the ceil-minus-1 point→tile rule."""
    n_px = (1 << zoom) * tile_size
    px, py = mercator.pixel_expr(F.col(lon_col), F.col(lat_col), zoom, tile_size)
    gx = F.least(
        F.greatest(F.floor(px), F.lit(0)), F.lit(n_px - 1)
    ).cast("long")
    gy_up = F.least(
        F.greatest(F.floor(py), F.lit(0)), F.lit(n_px - 1)
    ).cast("long")
    gy = F.lit(n_px - 1).cast("long") - gy_up  # top-down (XYZ / image order)
    return points.select(
        (gx / tile_size).cast("long").alias("tx"),
        (gy / tile_size).cast("long").alias("ty"),
        (gx % tile_size).alias("ip"),
        (gy % tile_size).alias("jp"),
    )


def burn_points_tiles(
    points: DataFrame,
    zoom: int,
    tile_size: int = 256,
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """Rasterize points into count tiles (uint8, saturating at 255).

    Plan: JVM pixel assignment → groupBy(tile, pixel).count() with
    map-side combine → one applyInPandas per tile assembling the dense
    array. Shuffle volume is O(lit pixels), not O(points)."""
    px_counts = (
        point_pixel_cols(points, zoom, tile_size, lon_col, lat_col)
        .groupBy("tx", "ty", "ip", "jp")
        .agg(F.count(F.lit(1)).alias("n"))
    )

    def assemble(pdf: pd.DataFrame) -> pd.DataFrame:
        arr = np.zeros((tile_size, tile_size), dtype=np.int64)
        arr[pdf["jp"].to_numpy(), pdf["ip"].to_numpy()] = pdf["n"].to_numpy()
        arr = np.minimum(arr, 255).astype(np.uint8)
        return pd.DataFrame(
            {
                "z": [zoom],
                "tx": [int(pdf["tx"].iloc[0])],
                "ty": [int(pdf["ty"].iloc[0])],
                "w": [tile_size],
                "h": [tile_size],
                "data": [arr.tobytes()],
            }
        )

    return px_counts.groupBy("tx", "ty").applyInPandas(assemble, TILE_SCHEMA)


# ---------------------------------------------------------------------------
# overview pyramid
# ---------------------------------------------------------------------------


def _with_parent_keys(tiles: DataFrame) -> DataFrame:
    return tiles.withColumn("ptx", (F.col("tx") / 2).cast("long")).withColumn(
        "pty", (F.col("ty") / 2).cast("long")
    )


def overview_level(tiles: DataFrame, method: str = "average") -> DataFrame:
    """One pyramid level up: groupBy(parent tile) over ≤4 children,
    2x2 block-reduce each child, place in its parent quadrant
    (gdal2tiles create_overview_tile semantics, gdal2tiles.py:1471;
    reduce semantics gcore/overview.cpp). Missing children → 0."""
    return _reduce_keyed(_with_parent_keys(tiles), method)


def _reduce_keyed(parent: DataFrame, method: str) -> DataFrame:
    """overview_level over tiles that already carry (ptx, pty)."""

    def reduce_group(pdf: pd.DataFrame) -> pd.DataFrame:
        ts = int(pdf["w"].iloc[0])
        half = ts // 2
        out = np.zeros((ts, ts), dtype=np.uint8)
        for _, row in pdf.iterrows():
            arr = _tile_array(int(row["w"]), int(row["h"]), row["data"])
            red = raster.block_reduce_2x2(arr, method)
            qx = int(row["tx"]) % 2
            qy = int(row["ty"]) % 2
            out[qy * half : (qy + 1) * half, qx * half : (qx + 1) * half] = red
        return pd.DataFrame(
            {
                "z": [int(pdf["z"].iloc[0]) - 1],
                "tx": [int(pdf["tx"].iloc[0]) // 2],
                "ty": [int(pdf["ty"].iloc[0]) // 2],
                "w": [ts],
                "h": [ts],
                "data": [out.tobytes()],
            }
        )

    # z in the keys: a multi-zoom input (e.g. a pyramid() output fed
    # back in) must never merge tiles from different levels
    return parent.groupBy("z", "ptx", "pty").applyInPandas(
        reduce_group, TILE_SCHEMA
    )


def overview_gauss(tiles: DataFrame) -> DataFrame:
    """GAUSS overview level (gcore/overview.cpp:1842): 3x3 binomial
    kernel at each even source pixel needs 1 neighbor pixel beyond the
    tile — one halo exchange, then the same parent-quadrant assembly
    as overview_level."""
    padded = add_halo(tiles, pad=1)

    def reduce_group(pdf: pd.DataFrame) -> pd.DataFrame:
        ts = int(pdf["w"].iloc[0])
        half = ts // 2
        out = np.zeros((ts, ts), dtype=np.uint8)
        for _, row in pdf.iterrows():
            p = int(row["pad"])
            a = np.frombuffer(row["data"], dtype=np.uint8).reshape(
                int(row["h"]) + 2 * p, int(row["w"]) + 2 * p
            )
            red = raster.gauss_3x3(a)
            qx = int(row["tx"]) % 2
            qy = int(row["ty"]) % 2
            out[qy * half:(qy + 1) * half, qx * half:(qx + 1) * half] = red
        return pd.DataFrame(
            {
                "z": [int(pdf["z"].iloc[0]) - 1],
                "tx": [int(pdf["tx"].iloc[0]) // 2],
                "ty": [int(pdf["ty"].iloc[0]) // 2],
                "w": [ts],
                "h": [ts],
                "data": [out.tobytes()],
            }
        )

    return _with_parent_keys(padded).groupBy("z", "ptx", "pty").applyInPandas(
        reduce_group, TILE_SCHEMA
    )


def overview_cubic(tiles: DataFrame) -> DataFrame:
    """CUBIC overview level (gcore/overview.cpp:3150 convolution path,
    absent in r02): 8-tap Catmull-Rom decimation per axis needs 3
    pixels beyond the tile — one halo exchange, then the same
    parent-quadrant assembly as overview_level."""
    padded = add_halo(tiles, pad=3)

    def reduce_group(pdf: pd.DataFrame) -> pd.DataFrame:
        ts = int(pdf["w"].iloc[0])
        half = ts // 2
        out = np.zeros((ts, ts), dtype=np.uint8)
        for _, row in pdf.iterrows():
            p = int(row["pad"])
            a = np.frombuffer(row["data"], dtype=np.uint8).reshape(
                int(row["h"]) + 2 * p, int(row["w"]) + 2 * p
            )
            red = raster.cubic_decimate_2x(a, pad=p)
            qx = int(row["tx"]) % 2
            qy = int(row["ty"]) % 2
            out[qy * half:(qy + 1) * half, qx * half:(qx + 1) * half] = red
        return pd.DataFrame(
            {
                "z": [int(pdf["z"].iloc[0]) - 1],
                "tx": [int(pdf["tx"].iloc[0]) // 2],
                "ty": [int(pdf["ty"].iloc[0]) // 2],
                "w": [ts],
                "h": [ts],
                "data": [out.tobytes()],
            }
        )

    return _with_parent_keys(padded).groupBy("z", "ptx", "pty").applyInPandas(
        reduce_group, TILE_SCHEMA
    )


def pyramid(
    base: DataFrame, base_zoom: int, min_zoom: int = 0, method: str = "average"
) -> DataFrame:
    """Full overview pyramid base_zoom → min_zoom (inclusive), unioned.
    Each level is one groupBy shuffle; levels are sequential stages
    exactly as in the reference tiler. All resamplers dispatch here —
    the halo-exchange ones (gauss, cubic) included.

    Block-reduce methods (average, nearest, mode, ...) give each level
    ONE exchange that feeds both its parent and the output: the level
    is hash-partitioned on its parent key (z, ptx, pty), the next level
    groups that frame with no further exchange, and the level's union
    branch is the same frame with the keys dropped, which AQE serves
    from the reused shuffle. Spark reuses exchanges, not Python nodes,
    so a union branch taken above the shuffle would run the level's
    FlatMapGroupsInPandas a second time. gauss and cubic group after
    their own halo exchange and keep the plain union of levels."""
    out = None
    level = base
    for _ in range(base_zoom - min_zoom):
        if method in ("gauss", "cubic"):
            branch = level
            step = overview_gauss if method == "gauss" else overview_cubic
            level = step(level)
        else:
            keyed = _with_parent_keys(level).repartition("z", "ptx", "pty")
            branch = keyed.drop("ptx", "pty")
            level = _reduce_keyed(keyed, method)
        out = branch if out is None else out.unionByName(branch)
    return level if out is None else out.unionByName(level)


# ---------------------------------------------------------------------------
# checksums / pixel explode (raster → vector egress)
# ---------------------------------------------------------------------------


def tile_checksums(tiles: DataFrame) -> DataFrame:
    """Per-tile digest (raster.tile_checksum semantics)."""

    def run(batches):
        for pdf in batches:
            cks = [
                raster.tile_checksum(_tile_array(int(w), int(h), d))
                for w, h, d in zip(pdf["w"], pdf["h"], pdf["data"])
            ]
            yield pd.DataFrame(
                {"z": pdf["z"], "tx": pdf["tx"], "ty": pdf["ty"], "cks": cks}
            )

    return tiles.mapInPandas(run, CHECKSUM_SCHEMA)


def pixels_df(tiles: DataFrame, nonzero_only: bool = True) -> DataFrame:
    """Explode tiles to (gx, gy, val) global-pixel rows (1→N mapInPandas
    — the raster→vector egress used by polygonize oracles)."""

    def run(batches):
        for pdf in batches:
            frames = []
            for _, row in pdf.iterrows():
                arr = _tile_array(int(row["w"]), int(row["h"]), row["data"])
                if nonzero_only:
                    jj, ii = np.nonzero(arr)
                else:
                    jj, ii = np.meshgrid(
                        np.arange(arr.shape[0]),
                        np.arange(arr.shape[1]),
                        indexing="ij",
                    )
                    jj, ii = jj.ravel(), ii.ravel()
                frames.append(
                    pd.DataFrame(
                        {
                            "gx": int(row["tx"]) * int(row["w"]) + ii,
                            "gy": int(row["ty"]) * int(row["h"]) + jj,
                            "val": arr[jj, ii].astype(np.int64),
                        }
                    )
                )
            if frames:
                yield pd.concat(frames, ignore_index=True)

    return tiles.mapInPandas(run, PIXEL_SCHEMA)


# ---------------------------------------------------------------------------
# synthetic source raster (distributed formula tiles)
# ---------------------------------------------------------------------------


def formula_tiles(
    spark: SparkSession, nx: int, ny: int, tile_size: int = 64
) -> DataFrame:
    """Distributed generator of the (x*7 + y*13) % 251 fixture raster
    as an nx x ny tile grid (z=0 plain grid, not mercator)."""
    ts = tile_size

    def gen(batches):
        for pdf in batches:
            rows = []
            for tid in pdf["id"]:
                tx, ty = int(tid) % nx, int(tid) // nx
                arr = raster.formula_block(tx * ts, ty * ts, ts, ts)
                rows.append((0, tx, ty, ts, ts, arr.tobytes()))
            yield pd.DataFrame(
                rows, columns=["z", "tx", "ty", "w", "h", "data"]
            )

    rng = spark.range(0, nx * ny, 1, min(nx * ny, 32))
    return rng.mapInPandas(gen, TILE_SCHEMA)


# ---------------------------------------------------------------------------
# affine warp (distributed gather)
# ---------------------------------------------------------------------------

WARP_PIXEL_SCHEMA = T.StructType(
    [
        T.StructField("di", T.LongType()),
        T.StructField("dj", T.LongType()),
        T.StructField("val", T.LongType()),
    ]
)


def warp_affine(
    src_tiles: DataFrame,
    src_gt: tuple,
    src_w: int,
    src_h: int,
    dst_gt: tuple,
    dst_w: int,
    dst_h: int,
    method: str = "nearest",
    dst_block: int = 32,
    src_tile_size: int = 64,
    bilinear_scale: int = 64,
    transform=None,
    cutline_wkb: bytes | None = None,
) -> DataFrame:
    """Warp src → dst grid, emitting (di, dj, val) dst pixels
    (val = nodata -1 outside src; bilinear values are
    round(bilinear_scale * v) for integer exactness).

    ``cutline_wkb`` (optional) is a (multi)polygon in DST georef
    coordinates: dst pixels whose CENTER falls outside it emit nodata
    — the gdalwarp -cutline option (apps/gdalwarp_lib.cpp:246
    LoadCutline / :249 TransformCutlineToSource; default
    CUTLINE_ALL_TOUCHED=FALSE center semantics). The mask evaluates
    per dst block inside the same gather task (the polygon ships in
    the task closure; no extra stage or shuffle). Requires a
    north-up dst geotransform.

    ``transform=None`` is the pure-affine path; otherwise a picklable
    ``transform(gx, gy) -> (X, Y)`` numpy callable reprojects DST
    georef coords into SRC georef space per pixel — the general
    OGRCoordinateTransformation warp (ogr/ogrct.cpp:2254; e.g.
    proj.utm warp, the reference's own benchmark warp
    autotest/benchmark/test_gdalwarp.py:31-80).

    Distribution: dst blocks enumerated JVM-side via spark.range (a
    100 TB raster has billions of blocks — never a driver Python
    list); each block's src-tile cover is four affine corner
    expressions + a sequence() explode (affine path) or a 3×3
    sampled-point bbox per block inside mapInPandas (transform path —
    GDALSuggestedWarpOutput's edge-sampling analog,
    alg/gdaltransformer.cpp), then an equi-join ships exactly the
    needed src tiles to each block's gather task (CollectChunkList
    analog, alg/gdalwarpoperation.cpp:930).
    """
    spark = src_tiles.sparkSession
    cutline_parts = None
    if cutline_wkb is not None:
        if dst_gt[2] != 0.0 or dst_gt[4] != 0.0:
            raise ValueError("cutline requires a north-up dst_gt")
        from .. import wkb as _wkb

        cutline_parts = _wkb.polygon_rings(bytes(cutline_wkb))
    igt = raster.inv_gt(src_gt)
    nbx = (dst_w + dst_block - 1) // dst_block
    nby = (dst_h + dst_block - 1) // dst_block
    pad = 3.0 if method == "lanczos" else 2.0  # kernel support + safety

    if transform is None:
        i0 = (F.col("id") % nbx) * dst_block
        j0 = F.expr(f"id DIV {nbx}") * dst_block
        bw = F.least(F.lit(dst_block), F.lit(dst_w) - i0)
        bh = F.least(F.lit(dst_block), F.lit(dst_h) - j0)

        def src_xy(ci, cj):
            gx = F.lit(dst_gt[0]) + ci * dst_gt[1] + cj * dst_gt[2]
            gy = F.lit(dst_gt[3]) + ci * dst_gt[4] + cj * dst_gt[5]
            return (
                F.lit(igt[0]) + gx * igt[1] + gy * igt[2],
                F.lit(igt[3]) + gx * igt[4] + gy * igt[5],
            )

        corners = [
            src_xy(ci.cast("double"), cj.cast("double"))
            for ci, cj in [
                (i0, j0), (i0 + bw, j0), (i0, j0 + bh), (i0 + bw, j0 + bh)
            ]
        ]
        sx_lo = F.floor(F.least(*[c[0] for c in corners]) - pad).cast("long")
        sx_hi = F.ceil(F.greatest(*[c[0] for c in corners]) + pad).cast("long")
        sy_lo = F.floor(F.least(*[c[1] for c in corners]) - pad).cast("long")
        sy_hi = F.ceil(F.greatest(*[c[1] for c in corners]) + pad).cast("long")

        blocks = (
            spark.range(nbx * nby)
            .select(
                i0.alias("i0"), j0.alias("j0"),
                bw.alias("bw"), bh.alias("bh"),
                F.greatest(sx_lo, F.lit(0)).alias("sx0"),
                F.least(sx_hi, F.lit(src_w - 1)).alias("sx1"),
                F.greatest(sy_lo, F.lit(0)).alias("sy0"),
                F.least(sy_hi, F.lit(src_h - 1)).alias("sy1"),
            )
        )
    else:
        _tf = transform

        def block_bounds(batches):
            for pdf in batches:
                rows = []
                for bid in pdf["id"].to_numpy():
                    bi0 = int(bid % nbx) * dst_block
                    bj0 = int(bid // nbx) * dst_block
                    bbw = min(dst_block, dst_w - bi0)
                    bbh = min(dst_block, dst_h - bj0)
                    gi = bi0 + np.array([0.0, bbw / 2.0, float(bbw)])
                    gj = bj0 + np.array([0.0, bbh / 2.0, float(bbh)])
                    GI, GJ = np.meshgrid(gi, gj)
                    gx = dst_gt[0] + GI * dst_gt[1] + GJ * dst_gt[2]
                    gy = dst_gt[3] + GI * dst_gt[4] + GJ * dst_gt[5]
                    X, Y = _tf(gx, gy)
                    sx = igt[0] + X * igt[1] + Y * igt[2]
                    sy = igt[3] + X * igt[4] + Y * igt[5]
                    rows.append((
                        bi0, bj0, bbw, bbh,
                        int(np.floor(sx.min() - pad)),
                        int(np.ceil(sx.max() + pad)),
                        int(np.floor(sy.min() - pad)),
                        int(np.ceil(sy.max() + pad)),
                    ))
                yield pd.DataFrame(
                    rows,
                    columns=["i0", "j0", "bw", "bh",
                             "sx0", "sx1", "sy0", "sy1"],
                )

        blocks = (
            spark.range(0, nbx * nby, 1, min(nbx * nby, 32))
            .mapInPandas(
                block_bounds,
                "i0 long, j0 long, bw long, bh long, "
                "sx0 long, sx1 long, sy0 long, sy1 long",
            )
            .select(
                "i0", "j0", "bw", "bh",
                F.greatest(F.col("sx0"), F.lit(0)).alias("sx0"),
                F.least(F.col("sx1"), F.lit(src_w - 1)).alias("sx1"),
                F.greatest(F.col("sy0"), F.lit(0)).alias("sy0"),
                F.least(F.col("sy1"), F.lit(src_h - 1)).alias("sy1"),
            )
        )

    all_blocks = blocks.select("i0", "j0", "bw", "bh")
    blocks = blocks.filter(
        (F.col("sx1") >= 0) & (F.col("sy1") >= 0)
        & (F.col("sx0") <= src_w - 1) & (F.col("sy0") <= src_h - 1)
    )
    ts_ = src_tile_size
    pairs_df = (
        blocks.withColumn(
            "stx",
            F.explode(
                F.sequence(
                    F.expr(f"sx0 DIV {ts_}"), F.expr(f"sx1 DIV {ts_}")
                )
            ),
        )
        .withColumn(
            "sty",
            F.explode(
                F.sequence(
                    F.expr(f"sy0 DIV {ts_}"), F.expr(f"sy1 DIV {ts_}")
                )
            ),
        )
        .select("i0", "j0", "bw", "bh", "stx", "sty")
    )
    joined = pairs_df.join(
        src_tiles.withColumnRenamed("tx", "stx").withColumnRenamed("ty", "sty"),
        ["stx", "sty"],
        "inner",
    )

    ts = src_tile_size

    def gather(pdf: pd.DataFrame) -> pd.DataFrame:
        i0 = int(pdf["i0"].iloc[0])
        j0 = int(pdf["j0"].iloc[0])
        bw = int(pdf["bw"].iloc[0])
        bh = int(pdf["bh"].iloc[0])
        # mosaic the delivered src tiles into a minimal window
        stxs = pdf["stx"].to_numpy()
        stys = pdf["sty"].to_numpy()
        wx0, wy0 = int(stxs.min()) * ts, int(stys.min()) * ts
        ww = (int(stxs.max()) + 1) * ts - wx0
        wh = (int(stys.max()) + 1) * ts - wy0
        win = np.zeros((wh, ww), dtype=np.uint8)
        valid = np.zeros((wh, ww), dtype=bool)
        for _, row in pdf.iterrows():
            ox = int(row["stx"]) * ts - wx0
            oy = int(row["sty"]) * ts - wy0
            arr = _tile_array(int(row["w"]), int(row["h"]), row["data"])
            win[oy : oy + ts, ox : ox + ts] = arr
            valid[oy : oy + ts, ox : ox + ts] = True
        if transform is None:
            sx, sy = raster.dst_to_src_coords(
                dst_gt, src_gt, bw, bh, i0, j0
            )
        else:
            di = i0 + np.arange(bw, dtype=np.float64)[None, :] + 0.5
            dj = j0 + np.arange(bh, dtype=np.float64)[:, None] + 0.5
            gx, gy = raster.apply_gt(dst_gt, di, dj)
            X, Y = transform(gx, gy)
            igt_ = raster.inv_gt(src_gt)
            sx = igt_[0] + X * igt_[1] + Y * igt_[2]
            sy = igt_[3] + X * igt_[4] + Y * igt_[5]
        # shift to window coords; clip handled by kernels via window size
        sxw, syw = sx - wx0, sy - wy0
        wh_, ww_ = valid.shape
        if method == "nearest":
            out = raster.warp_nearest(win, sxw, syw)
            # mask pixels whose src lies outside the full raster
            ixg = np.floor(sx).astype(np.int64)
            iyg = np.floor(sy).astype(np.int64)
            bad = (ixg < 0) | (ixg >= src_w) | (iyg < 0) | (iyg >= src_h)
            # ...or whose src tile is absent from src_tiles (sparse
            # raster): the mosaic window reads 0 there, not nodata
            ixw = np.clip(ixg - wx0, 0, ww_ - 1)
            iyw = np.clip(iyg - wy0, 0, wh_ - 1)
            bad |= ~valid[iyw, ixw]
            out[bad] = raster.NODATA
        elif method == "bilinear":
            out = raster.warp_bilinear_q(win, sxw, syw, scale=bilinear_scale)
            fx = sx - 0.5
            fy = sy - 0.5
            x0 = np.floor(fx).astype(np.int64)
            y0 = np.floor(fy).astype(np.int64)
            bad = (x0 < 0) | (x0 + 1 >= src_w) | (y0 < 0) | (y0 + 1 >= src_h)
            # all 4 bilinear support pixels must come from present tiles
            x0w = np.clip(x0 - wx0, 0, ww_ - 2)
            y0w = np.clip(y0 - wy0, 0, wh_ - 2)
            bad |= ~(
                valid[y0w, x0w] & valid[y0w, x0w + 1]
                & valid[y0w + 1, x0w] & valid[y0w + 1, x0w + 1]
            )
            out[bad] = raster.NODATA
        elif method == "cubic":
            out = raster.warp_cubic_q(win, sxw, syw)
            fx = sx - 0.5
            fy = sy - 0.5
            x0 = np.floor(fx).astype(np.int64)
            y0 = np.floor(fy).astype(np.int64)
            bad = (
                (x0 - 1 < 0) | (x0 + 2 > src_w - 1)
                | (y0 - 1 < 0) | (y0 + 2 > src_h - 1)
            )
            # all 16 support pixels must come from present tiles
            x0w = np.clip(x0 - wx0, 1, max(ww_ - 3, 1))
            y0w = np.clip(y0 - wy0, 1, max(wh_ - 3, 1))
            okv = np.ones_like(bad)
            for dj in range(-1, 3):
                for di in range(-1, 3):
                    okv &= valid[y0w + dj, x0w + di]
            bad |= ~okv
            out[bad] = raster.CUBIC_NODATA
        elif method in ("cubicspline", "lanczos"):
            sup = 2 if method == "cubicspline" else 3
            if method == "cubicspline":
                out = raster.warp_cubicspline_q(win, sxw, syw)
            else:
                out = np.floor(
                    raster.warp_lanczos(win, sxw, syw) * 16384.0 + 0.5
                ).astype(np.int64)
            fx = sx - 0.5
            fy = sy - 0.5
            x0 = np.floor(fx).astype(np.int64)
            y0 = np.floor(fy).astype(np.int64)
            bad = (
                (x0 - sup + 1 < 0) | (x0 + sup > src_w - 1)
                | (y0 - sup + 1 < 0) | (y0 + sup > src_h - 1)
            )
            x0w = np.clip(x0 - wx0, sup - 1, max(ww_ - sup - 1, sup - 1))
            y0w = np.clip(y0 - wy0, sup - 1, max(wh_ - sup - 1, sup - 1))
            okv = np.ones_like(bad)
            for dj in range(-sup + 1, sup + 1):
                for di in range(-sup + 1, sup + 1):
                    okv &= valid[y0w + dj, x0w + di]
            bad |= ~okv
            out[bad] = raster.CUBIC_NODATA
        else:
            raise ValueError(f"unknown warp method {method!r}")
        if cutline_parts is not None:
            bx0 = dst_gt[0] + i0 * dst_gt[1]
            by0 = dst_gt[3] + j0 * dst_gt[5]
            inside = np.zeros((bh, bw), dtype=bool)
            for part in cutline_parts:
                inside |= raster.fill_polygon_mask(
                    part, bw, bh, bx0, by0, dst_gt[1], dst_gt[5]
                )
            out[~inside] = (
                raster.NODATA if method == "nearest"
                else raster.CUBIC_NODATA if method in (
                    "cubic", "cubicspline", "lanczos")
                else raster.NODATA
            )
        jj, ii = np.meshgrid(
            np.arange(bh, dtype=np.int64),
            np.arange(bw, dtype=np.int64),
            indexing="ij",
        )
        return pd.DataFrame(
            {
                "di": i0 + ii.ravel(),
                "dj": j0 + jj.ravel(),
                "val": out.ravel().astype(np.int64),
            }
        )

    gathered = joined.groupBy("i0", "j0").applyInPandas(
        gather, WARP_PIXEL_SCHEMA
    )
    # the contract is EVERY dst pixel (val = nodata outside src): a
    # block entirely outside the src extent (filtered above) or whose
    # whole tile cover is absent from a sparse raster never reaches
    # the gather — emit its nodata rows JVM-side (anti-join on the
    # covered block set + one sequence explode; no Python)
    nod = (
        raster.NODATA if method in ("nearest", "bilinear")
        else raster.CUBIC_NODATA
    )
    uncovered = all_blocks.join(
        joined.select("i0", "j0").distinct(), ["i0", "j0"], "left_anti"
    )
    nodata_rows = (
        uncovered
        .withColumn(
            "u", F.explode(F.expr("sequence(0, bw - 1)"))
        )
        .withColumn(
            "v", F.explode(F.expr("sequence(0, bh - 1)"))
        )
        .select(
            (F.col("i0") + F.col("u")).alias("di"),
            (F.col("j0") + F.col("v")).alias("dj"),
            F.lit(int(nod)).cast("long").alias("val"),
        )
    )
    return gathered.unionByName(nodata_rows)


def warp_aggregate(
    src_tiles: DataFrame,
    src_gt: tuple,
    dst_gt: tuple,
    dst_w: int,
    dst_h: int,
) -> DataFrame:
    """Warp-time aggregates — GRA_Average/Mode/Min/Max/Med/Q1/Q3/Sum
    (alg/gdalwarper.h:35-67, GWKAverageOrMode alg/gdalwarpkernel.cpp
    :192): every dst pixel aggregates the src pixels whose CENTER maps
    into its footprint.

    Plan: each src tile maps its pixel centers to dst pixels and emits
    a VALUE HISTOGRAM (di, dj, val, cnt) — for bounded pixel depth
    (uint8) that is ≤256 rows per touched dst pixel regardless of
    raster size, so the shuffle carries histograms, not pixels
    (map-side combine via np.unique). All aggregates — including exact
    median/quartiles/mode — then reduce JVM-side from the histogram
    (cumulative-count window), never a per-pixel value list.

    Axis-aligned geotransforms only (d2 = d4 = 0): the forward map is
    (gx - d0)/d1 so an ANSI-SQL oracle reproduces every rounding
    decision bit-for-bit (no 1/d1 inverse-coefficient literal).

    Ties/conventions (documented deviations from GDAL's scan-order-
    dependent behavior, which is not reproducible under parallel
    reduction): Mode ties → smallest value; Med on even counts emits
    v_lo + v_hi (twice the median) as ``med2``; Q1/Q3 are the exact
    order statistics at 1-indexed positions (n-1) DIV 4 + 1 and
    3*(n-1) DIV 4 + 1.
    """
    g0, g1, _, g3, _, g5 = src_gt
    d0, d1, _, d3, _, d5 = dst_gt

    def hist(batches):
        for pdf in batches:
            frames = []
            for _, r in pdf.iterrows():
                ts_w, ts_h = int(r["w"]), int(r["h"])
                tx, ty = int(r["tx"]), int(r["ty"])
                arr = _tile_array(ts_w, ts_h, r["data"])
                sx = tx * ts_w + np.arange(ts_w, dtype=np.float64)[None, :]
                sy = ty * ts_h + np.arange(ts_h, dtype=np.float64)[:, None]
                gx = g0 + (sx + 0.5) * g1
                gy = g3 + (sy + 0.5) * g5
                dpx = (gx - d0) / d1
                dpy = (gy - d3) / d5
                di = np.floor(dpx).astype(np.int64)
                dj = np.floor(dpy).astype(np.int64)
                di = np.broadcast_to(di, arr.shape)
                dj = np.broadcast_to(dj, arr.shape)
                m = (di >= 0) & (di < dst_w) & (dj >= 0) & (dj < dst_h)
                if not m.any():
                    continue
                key = (
                    (di[m] * dst_h + dj[m]) * 256 + arr[m].astype(np.int64)
                )
                uk, cnt = np.unique(key, return_counts=True)
                frames.append(pd.DataFrame({
                    "di": uk // (dst_h * 256),
                    "dj": (uk // 256) % dst_h,
                    "val": uk % 256,
                    "cnt": cnt.astype(np.int64),
                }))
            if frames:
                yield pd.concat(frames, ignore_index=True)

    h = src_tiles.mapInPandas(
        hist, "di long, dj long, val long, cnt long"
    )
    # merge partial histograms. ONE shuffle total: hash partitioning
    # on (di, dj) satisfies the clustering needs of BOTH the
    # histogram merge (di, dj, val ⊇ di, dj) and the window below —
    # without it Catalyst plans two exchanges. Map-side combine
    # already happened in the np.unique per tile.
    h = (
        h.repartition("di", "dj")
        .groupBy("di", "dj", "val")
        .agg(F.sum("cnt").alias("cnt"))
    )
    from pyspark.sql.window import Window

    wpix = Window.partitionBy("di", "dj")
    wrun = wpix.orderBy("val").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    h2 = (
        h.withColumn("run", F.sum("cnt").over(wrun))
        .withColumn("tot", F.sum("cnt").over(wpix))
        .withColumn("maxcnt", F.max("cnt").over(wpix))
        .withColumn("lo", F.expr("(tot + 1) DIV 2"))
        .withColumn("hi", F.expr("tot DIV 2 + 1"))
        .withColumn("p1", F.expr("(tot - 1) DIV 4 + 1"))
        .withColumn("p3", F.expr("3 * (tot - 1) DIV 4 + 1"))
    )
    agg = h2.groupBy("di", "dj").agg(
        F.first("tot").alias("n"),
        F.sum(F.col("val") * F.col("cnt")).alias("sum_v"),
        F.min("val").alias("min_v"),
        F.max("val").alias("max_v"),
        F.min(
            F.when(F.col("cnt") == F.col("maxcnt"), F.col("val"))
        ).alias("mode_v"),
        (
            F.min(F.when(F.col("run") >= F.col("lo"), F.col("val")))
            + F.min(F.when(F.col("run") >= F.col("hi"), F.col("val")))
        ).alias("med2"),
        F.min(F.when(F.col("run") >= F.col("p1"), F.col("val"))).alias("q1_v"),
        F.min(F.when(F.col("run") >= F.col("p3"), F.col("val"))).alias("q3_v"),
    )
    return agg.withColumn(
        "avg_q8",
        F.floor(
            F.col("sum_v") * 256.0 / F.col("n") + 0.5
        ).cast("long"),
    )


# ---------------------------------------------------------------------------
# halo exchange (focal / neighborhood operators)
# ---------------------------------------------------------------------------

HALO_TILE_SCHEMA = T.StructType(
    [
        T.StructField("z", T.IntegerType()),
        T.StructField("tx", T.LongType()),
        T.StructField("ty", T.LongType()),
        T.StructField("w", T.IntegerType()),   # core width (pad excluded)
        T.StructField("h", T.IntegerType()),
        T.StructField("pad", T.IntegerType()),
        T.StructField("data", T.BinaryType()),  # (h+2p) x (w+2p)
    ]
)

_STRIP_SCHEMA = T.StructType(
    [
        T.StructField("dtx", T.LongType()),
        T.StructField("dty", T.LongType()),
        T.StructField("dx", T.IntegerType()),  # where I sit vs receiver
        T.StructField("dy", T.IntegerType()),
        T.StructField("z", T.IntegerType()),
        T.StructField("sw", T.IntegerType()),
        T.StructField("sh", T.IntegerType()),
        T.StructField("data", T.BinaryType()),
    ]
)


def add_halo(
    tiles: DataFrame, pad: int = 1, fill: int = 0, dtype: str = "uint8"
) -> DataFrame:
    """Exchange ``pad``-pixel halos between adjacent tiles so focal
    (neighborhood) kernels can run per tile without cross-tile reads —
    the Spark rendering of the reference's focal ops (sieve
    alg/gdalsievefilter.cpp:178, proximity alg/gdalproximity.cpp:94,
    marching squares alg/marching_squares/; SURVEY.md §2.5).

    Plan: every tile emits its core plus the 8 border strips its
    neighbors need (shuffle volume = tile perimeter x pad, never tile
    area x 9), one groupBy(tile) assembles the padded array. Missing
    neighbors (grid edge) fill with ``fill``.

    Output rows carry core (w, h) + ``pad``; ``data`` is the padded
    (h+2p) x (w+2p) array."""

    np_dtype = np.dtype(dtype)

    def emit(batches):
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                ts_w, ts_h = int(r["w"]), int(r["h"])
                tx, ty, z = int(r["tx"]), int(r["ty"]), int(r["z"])
                arr = np.frombuffer(r["data"], dtype=np_dtype).reshape(
                    ts_h, ts_w
                )
                for dx in (-1, 0, 1):
                    for dy in (-1, 0, 1):
                        if dx == 0 and dy == 0:
                            strip = arr
                        else:
                            # slice of ME inside the padded window of
                            # neighbor (tx+dx, ty+dy): a receiver to my
                            # right (dx=+1) needs my RIGHTMOST columns
                            xs = slice(ts_w - pad, ts_w) if dx == 1 else (
                                slice(0, pad) if dx == -1
                                else slice(0, ts_w)
                            )
                            ys = slice(ts_h - pad, ts_h) if dy == 1 else (
                                slice(0, pad) if dy == -1
                                else slice(0, ts_h)
                            )
                            strip = arr[ys, xs]
                        rows.append(
                            (
                                tx + dx, ty + dy, -dx, -dy, z,
                                strip.shape[1], strip.shape[0],
                                strip.tobytes(),
                            )
                        )
            yield pd.DataFrame(
                rows, columns=[f.name for f in _STRIP_SCHEMA]
            )

    strips = tiles.mapInPandas(emit, _STRIP_SCHEMA)

    def assemble(pdf: pd.DataFrame) -> pd.DataFrame:
        center = pdf[(pdf["dx"] == 0) & (pdf["dy"] == 0)]
        if center.empty:
            return pd.DataFrame(
                [], columns=[f.name for f in HALO_TILE_SCHEMA]
            )
        c = center.iloc[0]
        ts_w, ts_h = int(c["sw"]), int(c["sh"])
        out = np.full((ts_h + 2 * pad, ts_w + 2 * pad), fill, dtype=np_dtype)
        for _, r in pdf.iterrows():
            sw, sh = int(r["sw"]), int(r["sh"])
            strip = np.frombuffer(r["data"], dtype=np_dtype).reshape(sh, sw)
            dx, dy = int(r["dx"]), int(r["dy"])
            x0 = {-1: 0, 0: pad, 1: pad + ts_w}[dx]
            y0 = {-1: 0, 0: pad, 1: pad + ts_h}[dy]
            out[y0 : y0 + sh, x0 : x0 + sw] = strip
        return pd.DataFrame(
            {
                "z": [int(c["z"])],
                "tx": [int(c["dtx"])],
                "ty": [int(c["dty"])],
                "w": [ts_w],
                "h": [ts_h],
                "pad": [pad],
                "data": [out.tobytes()],
            }
        )

    # z in the keys (same reason as overview_level: multi-level safety)
    return strips.groupBy("z", "dtx", "dty").applyInPandas(
        assemble, HALO_TILE_SCHEMA
    )


def focal_mean(tiles: DataFrame) -> DataFrame:
    """3x3 focal mean (half-up integer rounding), one halo exchange +
    per-tile numpy — the neighborhood-kernel exemplar."""
    padded = add_halo(tiles, pad=1)

    def run(batches):
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                ts_w, ts_h, p = int(r["w"]), int(r["h"]), int(r["pad"])
                a = np.frombuffer(r["data"], dtype=np.uint8).reshape(
                    ts_h + 2 * p, ts_w + 2 * p
                ).astype(np.int64)
                s = sum(
                    a[1 + dy : 1 + dy + ts_h, 1 + dx : 1 + dx + ts_w]
                    for dx in (-1, 0, 1)
                    for dy in (-1, 0, 1)
                )
                out = ((s + 4) // 9).astype(np.uint8)
                rows.append(
                    (int(r["z"]), int(r["tx"]), int(r["ty"]),
                     ts_w, ts_h, out.tobytes())
                )
            yield pd.DataFrame(
                rows, columns=["z", "tx", "ty", "w", "h", "data"]
            )

    return padded.mapInPandas(run, TILE_SCHEMA)


def contour_case_census(
    tiles: DataFrame, grid_w: int, grid_h: int, threshold: int
) -> DataFrame:
    """Marching-squares case census (alg/contour.cpp:383 /
    alg/marching_squares/): for every interior 2x2 pixel square,
    case = b(x,y) + 2*b(x+1,y) + 4*b(x+1,y+1) + 8*b(x,y+1) with
    b = (val >= threshold); returns counts per case 0..15. Squares
    whose (x+1, y+1) corner falls outside the global grid are excluded
    (mirrors the per-tile halo mask). One halo exchange, per-tile
    numpy, tiny groupBy(case)."""
    padded = add_halo(tiles, pad=1)

    def run(batches):
        for pdf in batches:
            counts = np.zeros(16, dtype=np.int64)
            for _, r in pdf.iterrows():
                ts_w, ts_h, p = int(r["w"]), int(r["h"]), int(r["pad"])
                tx, ty = int(r["tx"]), int(r["ty"])
                a = np.frombuffer(r["data"], dtype=np.uint8).reshape(
                    ts_h + 2 * p, ts_w + 2 * p
                )
                b = (a >= threshold).astype(np.int64)
                # squares anchored at my core pixels (x, y)
                case = (
                    b[1 : 1 + ts_h, 1 : 1 + ts_w]
                    + 2 * b[1 : 1 + ts_h, 2 : 2 + ts_w]
                    + 4 * b[2 : 2 + ts_h, 2 : 2 + ts_w]
                    + 8 * b[2 : 2 + ts_h, 1 : 1 + ts_w]
                )
                # mask: (x+1, y+1) must exist globally
                gx = tx * ts_w + np.arange(ts_w)
                gy = ty * ts_h + np.arange(ts_h)
                valid = (gx[None, :] + 1 <= grid_w - 1) & (
                    gy[:, None] + 1 <= grid_h - 1
                )
                counts += np.bincount(case[valid].ravel(), minlength=16)
            yield pd.DataFrame(
                {"case_code": np.arange(16, dtype=np.int64), "n": counts}
            )

    partials = padded.mapInPandas(run, "case_code long, n long")
    return (
        partials.groupBy("case_code")
        .agg(F.sum("n").alias("n"))
        .filter(F.col("n") > 0)
    )


# ---------------------------------------------------------------------------
# contour polyline extraction (marching squares segments + stitching)
# ---------------------------------------------------------------------------

CONTOUR_SEG_SCHEMA = (
    "level long, x1 double, y1 double, x2 double, y2 double"
)

# case → [(edge, edge)] segment table; edges B(ottom) R(ight) T(op)
# L(eft); case bits b0=v00 + 2*b1(v10) + 4*b2(v11) + 8*b3(v01), inside
# = (v >= level) — same convention as contour_case_census. Saddles
# (5, 10) resolve on the 4-corner sum vs 4*level (GDAL's
# marching_squares center-mean disambiguation, alg/marching_squares/).
_SEG_TABLE: dict[int, list[tuple[str, str]]] = {
    1: [("B", "L")], 2: [("B", "R")], 3: [("L", "R")],
    4: [("R", "T")], 6: [("B", "T")], 7: [("T", "L")],
    8: [("T", "L")], 9: [("B", "T")], 11: [("R", "T")],
    12: [("L", "R")], 13: [("B", "R")], 14: [("B", "L")],
}
_SADDLE = {
    (5, True): [("B", "R"), ("T", "L")],
    (5, False): [("B", "L"), ("R", "T")],
    (10, True): [("B", "L"), ("R", "T")],
    (10, False): [("B", "R"), ("T", "L")],
}


def contour_segments(
    tiles: DataFrame, grid_w: int, grid_h: int, levels: list[int]
) -> DataFrame:
    """Marching-squares contour SEGMENTS (not just the case census):
    per interior 2x2 square, linearly interpolated crossing points on
    the square's edges, joined per the 16-case table
    (alg/contour.cpp:383, alg/marching_squares/square.h; exact cases
    autotest/cpp/test_marching_squares_contour.cpp).

    One halo exchange, per-tile numpy; output rows are
    (level, x1, y1, x2, y2) in global pixel coordinates. Endpoint
    arithmetic is pure (level - v)/(vb - va) over integer pixel values
    so an ANSI-SQL oracle reproduces every coordinate bit-for-bit."""
    padded = add_halo(tiles, pad=1)

    def run(batches):
        for pdf in batches:
            frames = []
            for _, r in pdf.iterrows():
                ts_w, ts_h, p = int(r["w"]), int(r["h"]), int(r["pad"])
                tx, ty = int(r["tx"]), int(r["ty"])
                a = np.frombuffer(r["data"], dtype=np.uint8).reshape(
                    ts_h + 2 * p, ts_w + 2 * p
                ).astype(np.int64)
                v00 = a[1:1 + ts_h, 1:1 + ts_w]
                v10 = a[1:1 + ts_h, 2:2 + ts_w]
                v11 = a[2:2 + ts_h, 2:2 + ts_w]
                v01 = a[2:2 + ts_h, 1:1 + ts_w]
                gx = (tx * ts_w + np.arange(ts_w, dtype=np.int64))[None, :]
                gy = (ty * ts_h + np.arange(ts_h, dtype=np.int64))[:, None]
                valid = (np.broadcast_to(gx + 1, v00.shape) <= grid_w - 1) & (
                    np.broadcast_to(gy + 1, v00.shape) <= grid_h - 1
                )
                gxf = np.broadcast_to(gx, v00.shape).astype(np.float64)
                gyf = np.broadcast_to(gy, v00.shape).astype(np.float64)
                for lv in levels:
                    b0 = v00 >= lv
                    b1 = v10 >= lv
                    b2 = v11 >= lv
                    b3 = v01 >= lv
                    case = (
                        b0.astype(np.int64) + 2 * b1 + 4 * b2 + 8 * b3
                    )
                    with np.errstate(divide="ignore", invalid="ignore"):
                        tb = (lv - v00) / (v10 - v00)
                        tr = (lv - v10) / (v11 - v10)
                        tt = (lv - v01) / (v11 - v01)
                        tl = (lv - v00) / (v01 - v00)
                    pts = {
                        "B": (gxf + tb, gyf),
                        "R": (gxf + 1.0, gyf + tr),
                        "T": (gxf + tt, gyf + 1.0),
                        "L": (gxf, gyf + tl),
                    }
                    s4 = v00 + v10 + v11 + v01
                    jobs: list[tuple[np.ndarray, list]] = [
                        (valid & (case == c), segs)
                        for c, segs in _SEG_TABLE.items()
                    ]
                    for (c, hi), segs in _SADDLE.items():
                        m = valid & (case == c) & (
                            (s4 >= 4 * lv) == hi
                        )
                        jobs.append((m, segs))
                    for m, segs in jobs:
                        if not m.any():
                            continue
                        for e1, e2 in segs:
                            frames.append(pd.DataFrame({
                                "level": lv,
                                "x1": pts[e1][0][m], "y1": pts[e1][1][m],
                                "x2": pts[e2][0][m], "y2": pts[e2][1][m],
                            }))
            if frames:
                yield pd.concat(frames, ignore_index=True)

    return padded.mapInPandas(run, CONTOUR_SEG_SCHEMA)


def contour_level_stats(segs: DataFrame) -> DataFrame:
    """Per-level gate aggregate: segment count + integer-quantized
    length sum (each segment rounds before summing → order-free)."""
    dx = F.col("x2") - F.col("x1")
    dy = F.col("y2") - F.col("y1")
    ln = F.sqrt(dx * dx + dy * dy)
    q = F.floor(ln * 1000000.0 + 0.5).cast("long")
    return segs.groupBy("level").agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.sum(q).alias("len_q6"),
    )


def contour_polylines(segs: DataFrame, quant: int = 1 << 20) -> DataFrame:
    """Stitch segments into polylines by shared endpoints (the
    cross-tile merge of alg/contour.cpp's polyline ringing): endpoints
    quantize to a shared key, segments become union edges, components
    resolve via the DISTRIBUTED contraction (cc_roots_df) — the former
    driver-side union-find over the collected edge list is gone.
    ``line_id`` is the component's canonical (minimum) endpoint key —
    stable and order-free. Output: (level, line_id, n_segments,
    len_q6)."""
    kx1 = F.floor(F.col("x1") * quant + 0.5).cast("long")
    ky1 = F.floor(F.col("y1") * quant + 0.5).cast("long")
    kx2 = F.floor(F.col("x2") * quant + 0.5).cast("long")
    ky2 = F.floor(F.col("y2") * quant + 0.5).cast("long")
    # node identity = 128-bit double hash of the exact (level, kx, ky)
    # triple. A fixed-stride packing (the old kx·2^28 + ky) collides
    # as soon as the grid exceeds 256 quantized pixels; two
    # independent 64-bit hashes keep collision odds ≈ n²/2^129 —
    # negligible at any raster size — while staying deterministic
    # (value-hash, not an id assignment) and shuffle-free.
    lv = F.col("level")
    keyed = segs.select(
        "level", "x1", "y1", "x2", "y2",
        F.xxhash64(lv, kx1, ky1).alias("k1a"),
        F.xxhash64(kx1, ky1, lv, F.lit(1)).alias("k1b"),
        F.xxhash64(lv, kx2, ky2).alias("k2a"),
        F.xxhash64(kx2, ky2, lv, F.lit(1)).alias("k2b"),
    )
    roots = cc_roots_df(
        keyed.select(
            F.col("k1a").alias("a1"), F.col("k1b").alias("a2"),
            F.col("k2a").alias("b1"), F.col("k2b").alias("b2"),
        )
    ).select(
        F.col("n1").alias("k1a"), F.col("n2").alias("k1b"),
        F.col("r1").alias("rk1"), F.col("r2").alias("rk2"),
    )
    dx = F.col("x2") - F.col("x1")
    dy = F.col("y2") - F.col("y1")
    q = F.floor(F.sqrt(dx * dx + dy * dy) * 1000000.0 + 0.5).cast("long")
    return (
        keyed.join(roots, ["k1a", "k1b"], "left")
        .withColumn("rid1", F.coalesce("rk1", "k1a"))
        .withColumn("rid2", F.coalesce("rk2", "k1b"))
        .groupBy("level", "rid1", "rid2")
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.sum(q).alias("len_q6"),
        )
        .select(
            "level",
            F.xxhash64("rid1", "rid2").alias("line_id"),
            "n_segments", "len_q6",
        )
    )


# case → list of polygon vertex sequences covering the ABOVE-level
# region of the cell; vertices: corners C0(x,y) C1(x+1,y) C2(x+1,y+1)
# C3(x,y+1), edge crossings B R T L (same points as _SEG_TABLE).
# Saddles (5, 10) resolve like the segments: center-mean above →
# connected hexagon, below → two corner triangles.
_BAND_CASES: dict[int, list[list[str]]] = {
    0: [],
    1: [["C0", "B", "L"]],
    2: [["C1", "R", "B"]],
    3: [["C0", "C1", "R", "L"]],
    4: [["C2", "T", "R"]],
    6: [["C1", "C2", "T", "B"]],
    7: [["C0", "C1", "C2", "T", "L"]],
    8: [["C3", "L", "T"]],
    9: [["C0", "B", "T", "C3"]],
    11: [["C0", "C1", "R", "T", "C3"]],
    12: [["R", "C2", "C3", "L"]],
    13: [["C0", "B", "R", "C2", "C3"]],
    14: [["C1", "C2", "C3", "L", "B"]],
    15: [["C0", "C1", "C2", "C3"]],
}
_BAND_SADDLE: dict[tuple, list[list[str]]] = {
    (5, True): [["C0", "B", "R", "C2", "T", "L"]],
    (5, False): [["C0", "B", "L"], ["C2", "T", "R"]],
    (10, True): [["B", "C1", "R", "T", "C3", "L"]],
    (10, False): [["C1", "R", "B"], ["C3", "L", "T"]],
}


def _band_cell_geometry(a, ts_w, ts_h, p, tx, ty, grid_w, grid_h, lv):
    """Shared cell classification for the polygon-contour family:
    corner values, case codes, crossing offsets, validity mask and
    the (x, y) coordinate getter for symbolic vertex names."""
    v00 = a[1:1 + ts_h, 1:1 + ts_w]
    v10 = a[1:1 + ts_h, 2:2 + ts_w]
    v11 = a[2:2 + ts_h, 2:2 + ts_w]
    v01 = a[2:2 + ts_h, 1:1 + ts_w]
    gx = (tx * ts_w + np.arange(ts_w, dtype=np.int64))[None, :]
    gy = (ty * ts_h + np.arange(ts_h, dtype=np.int64))[:, None]
    valid = (np.broadcast_to(gx + 1, v00.shape) <= grid_w - 1) & (
        np.broadcast_to(gy + 1, v00.shape) <= grid_h - 1
    )
    x = np.broadcast_to(gx, v00.shape).astype(np.float64)
    y = np.broadcast_to(gy, v00.shape).astype(np.float64)
    case = (
        (v00 >= lv).astype(np.int64) + 2 * (v10 >= lv)
        + 4 * (v11 >= lv) + 8 * (v01 >= lv)
    )
    with np.errstate(divide="ignore", invalid="ignore"):
        tb = (lv - v00) / (v10 - v00)
        tr = (lv - v10) / (v11 - v10)
        tt = (lv - v01) / (v11 - v01)
        tl = (lv - v00) / (v01 - v00)
    coords = {
        "C0": (x, y), "C1": (x + 1.0, y),
        "C2": (x + 1.0, y + 1.0), "C3": (x, y + 1.0),
        "B": (x + tb, y), "R": (x + 1.0, y + tr),
        "T": (x + tt, y + 1.0), "L": (x, y + tl),
    }
    s4 = v00 + v10 + v11 + v01
    return case, coords, valid, s4


def _band_case_jobs(case, valid, s4, lv):
    """[(mask, ring-vertex-name-list, slot)] over all cases incl.
    saddles; ``slot`` is the ring's index within its cell (only the
    saddle-below variants have two rings per cell)."""
    jobs = []
    for c, rings in _BAND_CASES.items():
        m = valid & (case == c)
        for slot, ring in enumerate(rings):
            jobs.append((m, ring, slot))
    for (c, hi), rings in _BAND_SADDLE.items():
        m = valid & (case == c) & ((s4 >= 4 * lv) == hi)
        for slot, ring in enumerate(rings):
            jobs.append((m, ring, slot))
    return jobs


def contour_polygon_areas(
    tiles: DataFrame, grid_w: int, grid_h: int, levels: list[int]
) -> DataFrame:
    """Contour POLYGON mode, area form (gdal_contour -p band measure;
    alg/contour.cpp + marching_squares/polygon_ring_appender.h): per
    level the interpolated area of {surface >= level}, assembled from
    per-cell marching-squares polygons (_BAND_CASES). Each cell's area
    quantizes independently (floor(a·1e8 + 0.5)) before the integer
    sum, so the total is summation-order-free and an ANSI-SQL oracle
    evaluating the identical per-cell expressions matches exactly.
    Output: (level, area_q8)."""
    padded = add_halo(tiles, pad=1)

    def run(batches):
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                ts_w, ts_h, p = int(r["w"]), int(r["h"]), int(r["pad"])
                tx, ty = int(r["tx"]), int(r["ty"])
                a = np.frombuffer(r["data"], dtype=np.uint8).reshape(
                    ts_h + 2 * p, ts_w + 2 * p
                ).astype(np.int64)
                for lv in levels:
                    case, coords, valid, s4 = _band_cell_geometry(
                        a, ts_w, ts_h, p, tx, ty, grid_w, grid_h, lv
                    )
                    total = 0
                    for m, ring, _slot in _band_case_jobs(
                        case, valid, s4, lv
                    ):
                        if not m.any():
                            continue
                        # shoelace in FIXED left-to-right term order —
                        # mirrors the SQL oracle bit-for-bit
                        acc = None
                        n = len(ring)
                        for i in range(n):
                            xi, yi = coords[ring[i]]
                            xj, yj = coords[ring[(i + 1) % n]]
                            t = xi[m] * yj[m] - xj[m] * yi[m]
                            acc = t if acc is None else acc + t
                        q = np.floor(
                            np.abs(acc) * 0.5 * 1e8 + 0.5
                        ).astype(np.int64)
                        total += int(q.sum())
                    rows.append((int(lv), total))
            yield pd.DataFrame(rows, columns=["level", "area_q8"])

    partials = padded.mapInPandas(run, "level long, area_q8 long")
    return partials.groupBy("level").agg(
        F.sum("area_q8").alias("area_q8")
    )


def contour_polygons(
    tiles: DataFrame,
    grid_w: int,
    grid_h: int,
    level: int,
    quant: int = 1 << 20,
) -> DataFrame:
    """Contour POLYGON mode with REAL ring geometry: the connected
    {surface >= level} regions as polygons (outer ring + holes, WKB in
    pixel units × quant⁻¹... rings carry RAW pixel coords). Per-cell
    marching-squares polygons (_BAND_CASES) emit their boundary edges
    with endpoints quantized to a shared grid; edges interior to the
    region (shared by two cell polygons in opposite directions) cancel
    in a groupBy, leaving exactly the region outlines; components
    resolve via the distributed contraction (cc_roots_df) and each
    region's ring set traces in one task (_trace_rings — work =
    region perimeter). Output: (region_id, n_holes, area, geom_wkb).
    """
    padded = add_halo(tiles, pad=1)

    def emit(batches):
        for pdf in batches:
            frames = []
            for _, r in pdf.iterrows():
                ts_w, ts_h, p = int(r["w"]), int(r["h"]), int(r["pad"])
                tx, ty = int(r["tx"]), int(r["ty"])
                a = np.frombuffer(r["data"], dtype=np.uint8).reshape(
                    ts_h + 2 * p, ts_w + 2 * p
                ).astype(np.int64)
                case, coords, valid, s4 = _band_cell_geometry(
                    a, ts_w, ts_h, p, tx, ty, grid_w, grid_h, level
                )
                gxl = (tx * ts_w + np.arange(ts_w, dtype=np.int64))[None, :]
                gyl = (ty * ts_h + np.arange(ts_h, dtype=np.int64))[:, None]
                gx2 = np.broadcast_to(gxl, case.shape)
                gy2 = np.broadcast_to(gyl, case.shape)
                for m, ring, slot in _band_case_jobs(
                    case, valid, s4, level
                ):
                    if not m.any():
                        continue
                    # owner id of this cell-polygon: (gx, gy*2 + slot)
                    # — saddle-below cells hold TWO distinct polygons
                    o1 = gx2[m]
                    o2 = gy2[m] * 2 + slot
                    n = len(ring)
                    for i in range(n):
                        xi, yi = coords[ring[i]]
                        xj, yj = coords[ring[(i + 1) % n]]
                        x1q = np.floor(xi[m] * quant + 0.5).astype(np.int64)
                        y1q = np.floor(yi[m] * quant + 0.5).astype(np.int64)
                        x2q = np.floor(xj[m] * quant + 0.5).astype(np.int64)
                        y2q = np.floor(yj[m] * quant + 0.5).astype(np.int64)
                        keep = (x1q != x2q) | (y1q != y2q)
                        frames.append(pd.DataFrame({
                            "x1": x1q[keep], "y1": y1q[keep],
                            "x2": x2q[keep], "y2": y2q[keep],
                            "o1": o1[keep], "o2": o2[keep],
                        }))
            if frames:
                yield pd.concat(frames, ignore_index=True)

    segs = padded.mapInPandas(
        emit, "x1 long, y1 long, x2 long, y2 long, o1 long, o2 long"
    )
    # Region identity = connectivity of CELL-POLYGONS through their
    # CANCELLED (interior) edges — this keeps a hole's boundary in the
    # same region as its enclosing outer (both are traced by the same
    # connected run of above-cells), while saddle-below twin polygons
    # stay separate unless connected elsewhere. Undirected-edge count:
    # 2 → interior (a region-graph edge between the two owners),
    # 1 → real boundary edge, owned by its emitting cell-polygon.
    # canonical (min-endpoint-first) EXACT 4-column key — a packed
    # x·2^30 + y key collides past 1024 quantized rows and overflows
    # int64 past 8192 columns; grouping on the exact coordinates has
    # neither failure mode and shuffles the same rows
    swap = (F.col("x1") > F.col("x2")) | (
        (F.col("x1") == F.col("x2")) & (F.col("y1") > F.col("y2"))
    )
    und = segs.groupBy(
        F.when(swap, F.col("x2")).otherwise(F.col("x1")).alias("cxa"),
        F.when(swap, F.col("y2")).otherwise(F.col("y1")).alias("cya"),
        F.when(swap, F.col("x1")).otherwise(F.col("x2")).alias("cxb"),
        F.when(swap, F.col("y1")).otherwise(F.col("y2")).alias("cyb"),
    ).agg(
        F.collect_list(
            F.struct("x1", "y1", "x2", "y2", "o1", "o2")
        ).alias("es")
    )
    owner_edges = und.filter(F.size("es") == 2).select(
        F.col("es")[0]["o1"].alias("a1"),
        F.col("es")[0]["o2"].alias("a2"),
        F.col("es")[1]["o1"].alias("b1"),
        F.col("es")[1]["o2"].alias("b2"),
    )
    boundary = und.filter(F.size("es") == 1).select(
        F.col("es")[0]["x1"].alias("x1"),
        F.col("es")[0]["y1"].alias("y1"),
        F.col("es")[0]["x2"].alias("x2"),
        F.col("es")[0]["y2"].alias("y2"),
        F.col("es")[0]["o1"].alias("o1"),
        F.col("es")[0]["o2"].alias("o2"),
    )
    roots = cc_roots_df(owner_edges)
    rooted = (
        boundary.join(
            roots.select(
                F.col("n1").alias("o1"), F.col("n2").alias("o2"),
                F.col("r1").alias("rx"), F.col("r2").alias("ry"),
            ),
            ["o1", "o2"],
            "left",
        )
        .withColumn("rx", F.coalesce("rx", "o1"))
        .withColumn("ry", F.coalesce("ry", "o2"))
    )

    def assemble(pdf: pd.DataFrame) -> pd.DataFrame:
        from .. import wkb as wkb_mod

        arr = pdf[["x1", "y1", "x2", "y2"]].to_numpy(dtype=np.int64)
        rings = _trace_rings(arr)
        if not rings:
            return pd.DataFrame(
                [], columns=["region_id", "n_holes", "area", "geom_wkb"]
            )
        rings = [rg / float(quant) for rg in rings]
        areas = [
            0.5 * float(
                np.sum(rg[:-1, 0] * rg[1:, 1] - rg[1:, 0] * rg[:-1, 1])
            )
            for rg in rings
        ]
        outer_i = int(np.argmax(np.abs(areas)))
        outer = rings[outer_i]
        holes = [rg for i, rg in enumerate(rings) if i != outer_i]
        area = abs(areas[outer_i]) - sum(
            abs(a) for i, a in enumerate(areas) if i != outer_i
        )
        rid = int(pdf["rx"].iloc[0]) * (1 << 30) + int(pdf["ry"].iloc[0])
        return pd.DataFrame({
            "region_id": [rid],
            "n_holes": [len(holes)],
            "area": [area],
            "geom_wkb": [wkb_mod.polygon([outer, *holes])],
        })

    return rooted.groupBy("rx", "ry").applyInPandas(
        assemble,
        "region_id long, n_holes long, area double, geom_wkb binary",
    )


# ---------------------------------------------------------------------------
# proximity (distance raster via iterative halo relaxation)
# ---------------------------------------------------------------------------

PROX_SCHEMA = T.StructType(
    [
        T.StructField("gx", T.LongType()),
        T.StructField("gy", T.LongType()),
        T.StructField("d2", T.LongType()),
    ]
)


def proximity_d2(
    tiles: DataFrame, max_dist: int, tile_size: int
) -> DataFrame:
    """Squared distance from every pixel to the nearest TARGET pixel
    (value != 0), bounded by ``max_dist`` — GDALComputeProximity
    semantics (alg/gdalproximity.cpp:94: nearest-source coordinate
    propagation; MAXDIST bound).

    Distribution: per-pixel state is the packed nearest-target
    coordinate; each round exchanges 1-px halos and runs an 8SSEDT
    sweep per tile, so target information travels ≥ one tile per
    round — ceil(max_dist / tile_size) + 1 rounds suffice for every
    distance within the bound. Shuffle volume per round = tile
    perimeters, not areas.

    Output: (gx, gy, d2) rows with d2 <= max_dist².
    """
    n_rounds = max_dist // tile_size + 2

    def init(batches):
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                ts_w, ts_h = int(r["w"]), int(r["h"])
                tx, ty = int(r["tx"]), int(r["ty"])
                arr = _tile_array(ts_w, ts_h, r["data"])
                gx = tx * ts_w + np.arange(ts_w, dtype=np.int64)[None, :]
                gy = ty * ts_h + np.arange(ts_h, dtype=np.int64)[:, None]
                packed = raster.pack_coords(
                    np.broadcast_to(gx, arr.shape),
                    np.broadcast_to(gy, arr.shape),
                    arr != 0,
                )
                rows.append(
                    (int(r["z"]), tx, ty, ts_w, ts_h, packed.tobytes())
                )
            yield pd.DataFrame(
                rows, columns=["z", "tx", "ty", "w", "h", "data"]
            )

    state = tiles.mapInPandas(init, TILE_SCHEMA)

    def relax(batches):
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                ts_w, ts_h, p = int(r["w"]), int(r["h"]), int(r["pad"])
                tx, ty = int(r["tx"]), int(r["ty"])
                win = np.frombuffer(r["data"], dtype=np.int64).reshape(
                    ts_h + 2 * p, ts_w + 2 * p
                )
                out = raster.propagate_nearest(
                    win, tx * ts_w - p, ty * ts_h - p
                )
                core = out[p : p + ts_h, p : p + ts_w]
                rows.append(
                    (int(r["z"]), tx, ty, ts_w, ts_h, core.tobytes())
                )
            yield pd.DataFrame(
                rows, columns=["z", "tx", "ty", "w", "h", "data"]
            )

    prev = None
    for _ in range(n_rounds):
        padded = add_halo(state, pad=1, fill=-1, dtype="int64")
        state = padded.mapInPandas(relax, TILE_SCHEMA).persist()
        # materialize this round, then drop the previous round's cache
        # (bounded cache pressure: 1 live state, not n_rounds)
        state.count()
        if prev is not None:
            prev.unpersist()
        prev = state

    max_d2 = max_dist * max_dist

    def emit(batches):
        for pdf in batches:
            frames = []
            for _, r in pdf.iterrows():
                ts_w, ts_h = int(r["w"]), int(r["h"])
                tx, ty = int(r["tx"]), int(r["ty"])
                packed = np.frombuffer(r["data"], dtype=np.int64).reshape(
                    ts_h, ts_w
                )
                d2 = raster.nearest_d2(packed, tx * ts_w, ty * ts_h)
                jj, ii = np.nonzero(d2 <= max_d2)
                frames.append(
                    pd.DataFrame(
                        {
                            "gx": tx * ts_w + ii.astype(np.int64),
                            "gy": ty * ts_h + jj.astype(np.int64),
                            "d2": d2[jj, ii],
                        }
                    )
                )
            if frames:
                yield pd.concat(frames, ignore_index=True)

    return state.mapInPandas(emit, PROX_SCHEMA)


# ---------------------------------------------------------------------------
# point probe: raster value enrichment of a point table
# ---------------------------------------------------------------------------


def point_probe_nearest(
    points: DataFrame,
    tiles: DataFrame,
    gt: tuple,
    tile_size: int,
    grid_w: int,
    grid_h: int,
    lon_col: str = "lon",
    lat_col: str = "lat",
    id_col: str = "doc_id",
    broadcast_tiles: bool = True,
) -> DataFrame:
    """Sample a tiled raster at point locations, nearest-pixel
    (GDALInterpolateAtPoint near path, alg/gdal_interpolateatpoint.cpp
    :415): inverse geotransform JVM-side → equi-join points to their
    tile → per-tile vectorized gather. Points outside the raster get
    val = -1.

    Output: (id, val)."""
    igt = raster.inv_gt(gt)
    gx = F.col(lon_col) * igt[1] + F.col(lat_col) * igt[2] + igt[0]
    gy = F.col(lon_col) * igt[4] + F.col(lat_col) * igt[5] + igt[3]
    px = F.floor(gx).cast("long")
    py = F.floor(gy).cast("long")
    pts = points.select(
        F.col(id_col).alias("id"), px.alias("px"), py.alias("py")
    ).withColumn(
        "__in",
        (F.col("px") >= 0) & (F.col("px") < grid_w)
        & (F.col("py") >= 0) & (F.col("py") < grid_h),
    )
    inside = pts.filter("__in").withColumn(
        "tx", (F.col("px") / tile_size).cast("long")
    ).withColumn("ty", (F.col("py") / tile_size).cast("long"))
    # broadcast when the raster fits (fixture-sized); at scale leave
    # it to a shuffle join co-partitioned on (tx, ty)
    tside = F.broadcast(tiles) if broadcast_tiles else tiles
    # LEFT join: a point whose tile row is absent (sparse raster) must
    # still yield a row (val = nodata), per the (id, val) contract
    joined = inside.join(tside, ["tx", "ty"], "left")

    def gather(batches):
        for pdf in batches:
            pdf = pdf.reset_index(drop=True)
            vals = np.full(len(pdf), raster.NODATA, dtype=np.int64)
            has = pdf["data"].notna()
            if has.any():
                # decode each tile buffer ONCE, then vectorized fancy
                # indexing over that tile's whole point batch —
                # per-tile cardinality work, never per-point Python
                for _, g in pdf[has].groupby(["tx", "ty"], sort=False):
                    r0 = g.iloc[0]
                    h, w = int(r0["h"]), int(r0["w"])
                    arr = _tile_array(w, h, r0["data"])
                    # tile-LOCAL index = global − tile origin; a
                    # modulo by the tile's own w/h is wrong for edge
                    # tiles narrower than tile_size
                    tx0 = int(r0["tx"]) * tile_size
                    ty0 = int(r0["ty"]) * tile_size
                    pxl = g["px"].to_numpy(dtype=np.int64) - tx0
                    pyl = g["py"].to_numpy(dtype=np.int64) - ty0
                    vals[g.index.to_numpy()] = arr[pyl, pxl]
            yield pd.DataFrame({"id": pdf["id"], "val": vals})

    hit = joined.mapInPandas(gather, "id long, val long")
    miss = pts.filter(~F.col("__in")).select(
        "id", F.lit(-1).cast("long").alias("val")
    )
    return hit.unionByName(miss)


def _edge_all_touched_mask(
    mask: np.ndarray,
    px0: float, py0: float, px1: float, py1: float,
    c_lo: int, r_lo: int, grid_w: int, grid_h: int,
) -> None:
    """Burn the ALL_TOUCHED cells of one edge (PIXEL coords) into the
    tile-local ``mask`` (tile origin (c_lo, r_lo)) — the x-major
    column sweep of GDALdllImageLineAllTouched (alg/llrasterize.cpp
    :233), arithmetic mirroring the SQL oracle expression-for-
    expression."""
    th, tw = mask.shape
    if px0 <= px1:
        x0, y0, x1, y1 = px0, py0, px1, py1
    else:
        x0, y0, x1, y1 = px1, py1, px0, py0
    c0 = max(c_lo, int(np.floor(x0)), 0)
    c1 = min(c_lo + tw - 1, int(np.floor(x1)), grid_w - 1)
    for c in range(c0, c1 + 1):
        if x1 == x0:
            ya, yb = y0, y1
        else:
            ya = y0 + (max(float(c), x0) - x0) * (y1 - y0) / (x1 - x0)
            yb = y0 + (min(float(c + 1), x1) - x0) * (y1 - y0) / (x1 - x0)
        r0 = max(int(np.floor(min(ya, yb))), 0)
        r1 = min(int(np.floor(max(ya, yb))), grid_h - 1)
        r0t = max(r0, r_lo)
        r1t = min(r1, r_lo + th - 1)
        if r1t >= r0t:
            mask[r0t - r_lo : r1t - r_lo + 1, c - c_lo] = True


def rasterize_polygons_count(
    spark: SparkSession,
    polygons_pdf: pd.DataFrame,
    grid_w: int,
    grid_h: int,
    x0: float,
    y0: float,
    xres: float,
    yres: float,
    tile_size: int = 64,
    all_touched: bool = False,
) -> DataFrame:
    """Burn every polygon onto a (grid_w x grid_h) pixel grid and count
    filled pixels per polygon (GDALdllImageFilledPolygon center-inside
    semantics, alg/llrasterize.cpp:58; chunked like
    GDALRasterizeGeometries, alg/gdalrasterize.cpp:888).
    ``all_touched=True`` additionally burns every cell touched by a
    ring edge (the polygon ALL_TOUCHED option: interior fill + line
    ALL_TOUCHED over the boundary, alg/gdalrasterize.cpp:779-817).

    Distribution: the tile grid fans out via spark.range; polygon
    rings ship once per executor as a broadcast; per-tile partial
    counts reduce through a tiny groupBy(poly_id)."""
    from .. import wkb

    rings = {
        int(pid): wkb.polygon_rings(bytes(buf))
        for pid, buf in zip(polygons_pdf["poly_id"], polygons_pdf["geom_wkb"])
    }
    bboxes = {
        int(pid): (
            float(bx0), float(by0), float(bx1), float(by1)
        )
        for pid, bx0, by0, bx1, by1 in zip(
            polygons_pdf["poly_id"], polygons_pdf["bbox_minx"],
            polygons_pdf["bbox_miny"], polygons_pdf["bbox_maxx"],
            polygons_pdf["bbox_maxy"],
        )
    }
    rings_bc = spark.sparkContext.broadcast((rings, bboxes))
    nx = (grid_w + tile_size - 1) // tile_size
    ny = (grid_h + tile_size - 1) // tile_size

    def burn(batches):
        rings_by_pid, bbox_by_pid = rings_bc.value
        for pdf in batches:
            counts: dict[int, int] = {}
            for tid in pdf["id"]:
                txi, tyi = int(tid) % nx, int(tid) // nx
                tw = min(tile_size, grid_w - txi * tile_size)
                th = min(tile_size, grid_h - tyi * tile_size)
                tx0 = x0 + txi * tile_size * xres
                ty0 = y0 + tyi * tile_size * yres
                # tile bbox in geo coords (yres < 0 → y decreasing)
                gx_lo, gx_hi = sorted((tx0, tx0 + tw * xres))
                gy_lo, gy_hi = sorted((ty0, ty0 + th * yres))
                for pid, parts in rings_by_pid.items():
                    bx0, by0, bx1, by1 = bbox_by_pid[pid]
                    if bx1 < gx_lo or bx0 > gx_hi or by1 < gy_lo or by0 > gy_hi:
                        continue  # envelope prefilter (ogrlayer.cpp:2253)
                    mask = np.zeros((th, tw), dtype=bool)
                    for part in parts:
                        mask |= raster.fill_polygon_mask(
                            part, tw, th, tx0, ty0, xres, yres
                        )
                    if all_touched:
                        c_lo = txi * tile_size
                        r_lo = tyi * tile_size
                        for part in parts:
                            for ring in part:
                                for k in range(len(ring) - 1):
                                    _edge_all_touched_mask(
                                        mask,
                                        (ring[k][0] - x0) / xres,
                                        (ring[k][1] - y0) / yres,
                                        (ring[k + 1][0] - x0) / xres,
                                        (ring[k + 1][1] - y0) / yres,
                                        c_lo, r_lo, grid_w, grid_h,
                                    )
                    n = int(mask.sum())
                    if n:
                        counts[pid] = counts.get(pid, 0) + n
            yield pd.DataFrame(
                {
                    "poly_id": list(counts.keys()),
                    "n_filled": list(counts.values()),
                }
            )

    parts = spark.range(0, nx * ny, 1, min(nx * ny, 32)).mapInPandas(
        burn, "poly_id long, n_filled long"
    )
    return parts.groupBy("poly_id").agg(F.sum("n_filled").alias("n_filled"))


def rasterize_polygons_add(
    spark: SparkSession,
    polygons_pdf: pd.DataFrame,
    grid_w: int,
    grid_h: int,
    x0: float,
    y0: float,
    xres: float,
    yres: float,
    tile_size: int = 64,
) -> DataFrame:
    """MERGE_ALG=ADD rasterization (alg/gdalrasterize.cpp burn-merge
    add path): every polygon adds 1 to each center-inside pixel;
    output is the coverage-depth histogram (val, n_pixels) for
    val ≥ 1 — overlap depths accumulate instead of overwriting.

    Same distribution as rasterize_polygons_count: tile fan-out via
    spark.range, broadcast rings, per-tile bincount partials reduced
    by a tiny groupBy(val)."""
    from .. import wkb

    rings = {
        int(pid): wkb.polygon_rings(bytes(buf))
        for pid, buf in zip(
            polygons_pdf["poly_id"], polygons_pdf["geom_wkb"]
        )
    }
    bboxes = {
        int(pid): (float(bx0), float(by0), float(bx1), float(by1))
        for pid, bx0, by0, bx1, by1 in zip(
            polygons_pdf["poly_id"], polygons_pdf["bbox_minx"],
            polygons_pdf["bbox_miny"], polygons_pdf["bbox_maxx"],
            polygons_pdf["bbox_maxy"],
        )
    }
    rings_bc = spark.sparkContext.broadcast((rings, bboxes))
    nx = (grid_w + tile_size - 1) // tile_size
    ny = (grid_h + tile_size - 1) // tile_size

    def burn(batches):
        rings_by_pid, bbox_by_pid = rings_bc.value
        for pdf in batches:
            counts: dict[int, int] = {}
            for tid in pdf["id"]:
                txi, tyi = int(tid) % nx, int(tid) // nx
                tw = min(tile_size, grid_w - txi * tile_size)
                th = min(tile_size, grid_h - tyi * tile_size)
                tx0 = x0 + txi * tile_size * xres
                ty0 = y0 + tyi * tile_size * yres
                gx_lo, gx_hi = sorted((tx0, tx0 + tw * xres))
                gy_lo, gy_hi = sorted((ty0, ty0 + th * yres))
                acc = np.zeros((th, tw), dtype=np.int64)
                for pid, parts in rings_by_pid.items():
                    bx0, by0, bx1, by1 = bbox_by_pid[pid]
                    if (bx1 < gx_lo or bx0 > gx_hi
                            or by1 < gy_lo or by0 > gy_hi):
                        continue
                    mask = np.zeros((th, tw), dtype=bool)
                    for part in parts:
                        mask |= raster.fill_polygon_mask(
                            part, tw, th, tx0, ty0, xres, yres
                        )
                    acc += mask
                vals = acc[acc > 0]
                if vals.size:
                    bc = np.bincount(vals)
                    for v in np.nonzero(bc)[0]:
                        counts[int(v)] = counts.get(int(v), 0) + int(
                            bc[v]
                        )
            yield pd.DataFrame(
                {
                    "val": list(counts.keys()),
                    "n_pixels": list(counts.values()),
                }
            )

    parts = spark.range(0, nx * ny, 1, min(nx * ny, 32)).mapInPandas(
        burn, "val long, n_pixels long"
    )
    return parts.groupBy("val").agg(F.sum("n_pixels").alias("n_pixels"))


def burn_lines_all_touched(
    spark: SparkSession,
    lines_pdf: pd.DataFrame,
    grid_w: int,
    grid_h: int,
    tile_size: int = 64,
) -> DataFrame:
    """ALL_TOUCHED line rasterization (GDALdllImageLineAllTouched,
    alg/llrasterize.cpp:233): x-major column sweep — in every pixel
    column the segment crosses, all rows between the y-extremes of the
    in-column span burn.

    ``lines_pdf``: (line_id, x0, y0, x1, y1) in continuous pixel
    coords. Output: (line_id, n_cells, cks = Σ cx*7 + cy*13) per line
    — the burn-set digest (pixel emission is a trivial variant).

    Distribution: tile grid fans out via spark.range, lines broadcast;
    each touched cell is counted by exactly the tile containing it, so
    per-line partial (count, cks) reduce through a tiny groupBy."""
    lb = spark.sparkContext.broadcast(
        lines_pdf[["line_id", "x0", "y0", "x1", "y1"]].to_numpy(
            dtype=np.float64
        )
    )
    nx = (grid_w + tile_size - 1) // tile_size
    ny = (grid_h + tile_size - 1) // tile_size
    ts = tile_size

    def burn(batches):
        lines = lb.value
        for pdf in batches:
            rows = []
            for tid in pdf["id"]:
                txi, tyi = int(tid) % nx, int(tid) // nx
                c_lo = txi * ts
                c_hi = min((txi + 1) * ts, grid_w) - 1
                r_lo = tyi * ts
                r_hi = min((tyi + 1) * ts, grid_h) - 1
                for lid, rx0, ry0, rx1, ry1 in lines:
                    # normalize left→right (same branch as the oracle)
                    if rx0 <= rx1:
                        x0, y0, x1, y1 = rx0, ry0, rx1, ry1
                    else:
                        x0, y0, x1, y1 = rx1, ry1, rx0, ry0
                    c0 = max(c_lo, int(np.floor(x0)), 0)
                    c1 = min(c_hi, int(np.floor(x1)), grid_w - 1)
                    if c1 < c0:
                        continue
                    c = np.arange(c0, c1 + 1, dtype=np.int64)
                    xs = np.maximum(c.astype(np.float64), x0)
                    xe = np.minimum((c + 1).astype(np.float64), x1)
                    if x1 == x0:
                        ya = np.full(c.shape, y0)
                        yb = np.full(c.shape, y1)
                    else:
                        ya = y0 + (xs - x0) * (y1 - y0) / (x1 - x0)
                        yb = y0 + (xe - x0) * (y1 - y0) / (x1 - x0)
                    r0 = np.maximum(
                        np.floor(np.minimum(ya, yb)).astype(np.int64), r_lo
                    )
                    r1 = np.minimum(
                        np.floor(np.maximum(ya, yb)).astype(np.int64), r_hi
                    )
                    m = r1 >= r0
                    if not m.any():
                        continue
                    cnt = (r1[m] - r0[m] + 1)
                    # Σ over rows r in [r0, r1] of (c*7 + r*13)
                    cks = (
                        cnt * c[m] * 7
                        + 13 * (r0[m] + r1[m]) * cnt // 2
                    )
                    rows.append(
                        (int(lid), int(cnt.sum()), int(cks.sum()))
                    )
            yield pd.DataFrame(
                rows, columns=["line_id", "n_cells", "cks"]
            )

    parts = spark.range(0, nx * ny, 1, min(nx * ny, 32)).mapInPandas(
        burn, "line_id long, n_cells long, cks long"
    )
    return parts.groupBy("line_id").agg(
        F.sum("n_cells").alias("n_cells"), F.sum("cks").alias("cks")
    )


# ---------------------------------------------------------------------------
# polygonize (per-tile label + cross-tile merge)
# ---------------------------------------------------------------------------

REGION_SCHEMA = T.StructType(
    [
        T.StructField("value", T.LongType()),
        T.StructField("n_pixels", T.LongType()),
        T.StructField("min_gx", T.LongType()),
        T.StructField("min_gy", T.LongType()),
        T.StructField("max_gx", T.LongType()),
        T.StructField("max_gy", T.LongType()),
    ]
)

_PART_SCHEMA = T.StructType(
    [
        T.StructField("kind", T.StringType()),  # 'region' | 'border'
        T.StructField("tkey", T.LongType()),
        T.StructField("lab", T.LongType()),
        T.StructField("value", T.LongType()),
        T.StructField("n_pixels", T.LongType()),
        T.StructField("min_gx", T.LongType()),
        T.StructField("min_gy", T.LongType()),
        T.StructField("max_gx", T.LongType()),
        T.StructField("max_gy", T.LongType()),
        T.StructField("gx", T.LongType()),
        T.StructField("gy", T.LongType()),
        T.StructField("side", T.StringType()),  # 'R' | 'D' (right/down)
    ]
)


def mosaic(sources: list[DataFrame], nodata: int = 0) -> DataFrame:
    """Priority composite of tile tables (gdalbuildvrt / raster mosaic
    semantics, apps/gdalbuildvrt_lib.cpp): earlier sources win; where a
    higher-priority tile has ``nodata`` pixels, lower-priority sources
    show through (per-pixel resolve). Tiles present in only one source
    pass through unchanged.

    Plan: union with a priority tag → groupBy(tile) → per-tile numpy
    composite. Shuffle carries each tile once per source that has it.
    """
    if not sources:
        raise ValueError("mosaic needs at least one source")
    tagged = None
    for prio, src in enumerate(sources):
        t = src.withColumn("__prio", F.lit(prio))
        tagged = t if tagged is None else tagged.unionByName(t)

    def composite(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("__prio")
        first = pdf.iloc[0]
        ts_w, ts_h = int(first["w"]), int(first["h"])
        out = np.full((ts_h, ts_w), nodata, dtype=np.uint8)
        filled = np.zeros((ts_h, ts_w), dtype=bool)
        for _, row in pdf.iterrows():
            arr = _tile_array(int(row["w"]), int(row["h"]), row["data"])
            take = (~filled) & (arr != nodata)
            out[take] = arr[take]
            filled |= take
        return pd.DataFrame(
            {
                "z": [int(first["z"])],
                "tx": [int(first["tx"])],
                "ty": [int(first["ty"])],
                "w": [ts_w],
                "h": [ts_h],
                "data": [out.tobytes()],
            }
        )

    return tagged.groupBy("z", "tx", "ty").applyInPandas(
        composite, TILE_SCHEMA
    )


def sieve(tiles: DataFrame, threshold: int) -> DataFrame:
    """Remove raster polygons smaller than ``threshold`` pixels by
    merging each into its largest neighbour (GDALSieveFilter semantics,
    alg/gdalsievefilter.cpp:178; 4-connected).

    Distributed plan: the shared per-tile pass labels tiles in
    parallel and emits region stats, within-tile label adjacency and
    border pixels; same-value borders union regions across tiles
    (polygonize machinery). Region sizes/values stay DISTRIBUTED
    (groupBy root); the driver collects ONLY the small-region subgraph
    — regions under ``threshold``, edges incident to them, and the
    stats of their direct neighbours (O(small regions + incident
    edges), never O(all regions): a noisy 100 TB raster has O(pixels)
    regions but the merge inputs are bounded by the small ones).
    Small regions absorb into their largest current neighbour (ties →
    smaller region id), repeating until no mergeable small region
    remains, exactly the progressive merge of the reference. The
    changed labels flow back as a JOIN (per-tile change lists), not a
    broadcast dict over all labels.

    Returns new tiles (same schema/geometry, values rewritten).
    """
    spark = tiles.sparkSession
    tiles = tiles.persist()
    parts = _tile_parts(tiles).persist()

    # 1. same-value cross-tile merge → root map, fully distributed
    # (hash-min label propagation; no edge list on the driver)
    map_df = _root_map_df(parts, same_value_only=True).persist()

    regions = parts.filter(F.col("kind") == "region")
    rooted = (
        regions.join(map_df, ["tkey", "lab"], "left")
        .withColumn("rtkey", F.coalesce("rtkey", "tkey"))
        .withColumn("rlab", F.coalesce("rlab", "lab"))
        .select("tkey", "lab", "rtkey", "rlab", "value", "n_pixels")
        .persist()
    )
    stats = (
        rooted.groupBy("rtkey", "rlab")
        .agg(F.sum("n_pixels").alias("rsize"), F.first("value").alias("rvalue"))
        .persist()
    )

    # 2. root-level neighbour edges (within-tile adj + all-value
    # borders), restricted to edges touching a small root
    adj = parts.filter(F.col("kind") == "adj").select(
        F.col("tkey").alias("ta"), F.col("lab").alias("la"),
        F.col("tkey").alias("tb"), F.col("n_pixels").alias("lb"),
    )
    edges = adj.unionByName(
        _cross_tile_edges(parts, same_value_only=False)
    )
    ma = map_df.select(
        F.col("tkey").alias("ta"), F.col("lab").alias("la"),
        F.col("rtkey").alias("rta"), F.col("rlab").alias("rla"),
    )
    mb = map_df.select(
        F.col("tkey").alias("tb"), F.col("lab").alias("lb"),
        F.col("rtkey").alias("rtb"), F.col("rlab").alias("rlb"),
    )
    redges = (
        edges.join(ma, ["ta", "la"], "left")
        .join(mb, ["tb", "lb"], "left")
        .select(
            F.coalesce("rta", "ta").alias("at"),
            F.coalesce("rla", "la").alias("al"),
            F.coalesce("rtb", "tb").alias("bt"),
            F.coalesce("rlb", "lb").alias("bl"),
        )
        .filter((F.col("at") != F.col("bt")) | (F.col("al") != F.col("bl")))
        .distinct()
        .persist()
    )
    small = stats.filter(F.col("rsize") < threshold)
    sa = small.select(F.col("rtkey").alias("at"), F.col("rlab").alias("al"))
    sb = small.select(F.col("rtkey").alias("bt"), F.col("rlab").alias("bl"))
    incident = (
        redges.join(sa, ["at", "al"], "left_semi")
        .unionByName(redges.join(sb, ["bt", "bl"], "left_semi"))
        .distinct()
    )
    ends = (
        incident.select(F.col("at").alias("rtkey"), F.col("al").alias("rlab"))
        .unionByName(
            incident.select(F.col("bt").alias("rtkey"), F.col("bl").alias("rlab"))
        )
        .distinct()
        .join(stats, ["rtkey", "rlab"])
    )

    # 3. DISTRIBUTED progressive merge over the small-region subgraph
    # (active set = small roots + their direct neighbours; everything
    # else is provably inert: a region >= threshold never merges OUT,
    # and receiving pixels changes neither its value nor its fate).
    # Each round, every small region points at its largest current
    # neighbour (ties -> smaller id, the sequential tie-break);
    # pointers are kept only when they ascend a strict total order on
    # (size, inverted id) — that makes the round's pointer set a DAG,
    # which a pointer-doubling contraction collapses — then stats,
    # edges and the cumulative orig->current map relabel through
    # joins. The globally smallest small region's pointer always
    # ascends, so every round merges at least one region: the fixed
    # point (no region under threshold with a neighbour) terminates.
    # The driver orchestrates rounds and holds COUNTS only — no edge
    # or stats collect at any scale.
    act_stats = ends.unionByName(
        small.join(ends, ["rtkey", "rlab"], "left_anti")
    ).localCheckpoint(eager=True)
    act_edges = incident.localCheckpoint(eager=True)
    total_map = None
    rounds = 0
    for _ in range(64):
        small_now = act_stats.filter(F.col("rsize") < threshold)
        sym = act_edges.unionByName(
            act_edges.select(
                F.col("bt").alias("at"), F.col("bl").alias("al"),
                F.col("at").alias("bt"), F.col("al").alias("bl"),
            )
        )
        nb = act_stats.select(
            F.col("rtkey").alias("bt"), F.col("rlab").alias("bl"),
            F.col("rsize").alias("nbsize"),
        )
        cand = (
            small_now.select(
                F.col("rtkey").alias("at"), F.col("rlab").alias("al"),
                F.col("rsize").alias("ssize"),
            )
            .join(sym, ["at", "al"])
            .join(nb, ["bt", "bl"])
        )
        from pyspark.sql import Window as _W

        pick = (
            cand.withColumn(
                "rn",
                F.row_number().over(
                    _W.partitionBy("at", "al").orderBy(
                        F.col("nbsize").desc(),
                        F.col("bt").asc(),
                        F.col("bl").asc(),
                    )
                ),
            )
            .filter(F.col("rn") == 1)
            # strict ascent: source earlier than target in the
            # (size asc, id desc) processing order -> DAG per round
            .filter(
                (F.col("ssize") < F.col("nbsize"))
                | (
                    (F.col("ssize") == F.col("nbsize"))
                    & (
                        (F.col("at") > F.col("bt"))
                        | (
                            (F.col("at") == F.col("bt"))
                            & (F.col("al") > F.col("bl"))
                        )
                    )
                )
            )
            .select(
                F.col("at").alias("st"), F.col("al").alias("sl"),
                F.col("bt").alias("tt"), F.col("bl").alias("tl"),
            )
        )
        ptr = pick.localCheckpoint(eager=True)
        if ptr.limit(1).count() == 0:
            break
        rounds += 1
        # pointer-doubling contraction of the round's DAG
        for _ in range(32):
            hop = ptr.select(
                F.col("st").alias("tt"), F.col("sl").alias("tl"),
                F.col("tt").alias("ht"), F.col("tl").alias("hl"),
            )
            chained = ptr.join(hop, ["tt", "tl"], "left")
            ptr2 = chained.select(
                "st", "sl",
                F.coalesce("ht", "tt").alias("tt"),
                F.coalesce("hl", "tl").alias("tl"),
            ).localCheckpoint(eager=True)
            more = chained.filter(F.col("ht").isNotNull()).limit(1).count()
            ptr = ptr2
            if more == 0:
                break
        # relabel stats (root keeps its value; sizes sum)
        m = ptr.select(
            F.col("st").alias("rtkey"), F.col("sl").alias("rlab"),
            F.col("tt"), F.col("tl"),
        )
        act_stats = (
            act_stats.join(m, ["rtkey", "rlab"], "left")
            .select(
                F.coalesce("tt", "rtkey").alias("rtkey"),
                F.coalesce("tl", "rlab").alias("rlab"),
                "rsize", "rvalue",
                F.col("tt").isNull().alias("is_root"),
            )
            .groupBy("rtkey", "rlab")
            .agg(
                F.sum("rsize").alias("rsize"),
                F.max(
                    F.when(F.col("is_root"), F.col("rvalue"))
                ).alias("rvalue"),
            )
            .localCheckpoint(eager=True)
        )
        ma2 = ptr.select(
            F.col("st").alias("at"), F.col("sl").alias("al"),
            F.col("tt").alias("nat"), F.col("tl").alias("nal"),
        )
        mb2 = ptr.select(
            F.col("st").alias("bt"), F.col("sl").alias("bl"),
            F.col("tt").alias("nbt"), F.col("tl").alias("nbl"),
        )
        act_edges = (
            act_edges.join(ma2, ["at", "al"], "left")
            .join(mb2, ["bt", "bl"], "left")
            .select(
                F.coalesce("nat", "at").alias("at"),
                F.coalesce("nal", "al").alias("al"),
                F.coalesce("nbt", "bt").alias("bt"),
                F.coalesce("nbl", "bl").alias("bl"),
            )
            .filter(
                (F.col("at") != F.col("bt"))
                | (F.col("al") != F.col("bl"))
            )
            .distinct()
            .localCheckpoint(eager=True)
        )
        rm = ptr.select(
            F.col("st").alias("ot"), F.col("sl").alias("ol"),
            F.col("tt").alias("ct"), F.col("tl").alias("cl"),
        )
        if total_map is None:
            total_map = rm
        else:
            upd = rm.select(
                F.col("ot").alias("ct"), F.col("ol").alias("cl"),
                F.col("ct").alias("nct"), F.col("cl").alias("ncl"),
            )
            total_map = (
                total_map.join(upd, ["ct", "cl"], "left")
                .select(
                    "ot", "ol",
                    F.coalesce("nct", "ct").alias("ct"),
                    F.coalesce("ncl", "cl").alias("cl"),
                )
                .unionByName(
                    rm.join(
                        total_map.select("ot", "ol"),
                        ["ot", "ol"],
                        "left_anti",
                    )
                )
            )
        total_map = total_map.localCheckpoint(eager=True)

    sieve.last_stats = {
        "collected_edges": 0,
        "collected_stats": 0,
        "total_regions": stats.count(),
        "rounds": rounds,
    }

    # 4. changed roots → per-tile (lab → value) change lists via JOIN
    if total_map is None:
        changed_df = spark.createDataFrame(
            [], "rtkey long, rlab long, newval long"
        )
    else:
        final_val = act_stats.select(
            F.col("rtkey").alias("ct"), F.col("rlab").alias("cl"),
            F.col("rvalue").alias("newval"),
        )
        changed_df = total_map.join(final_val, ["ct", "cl"]).select(
            F.col("ot").alias("rtkey"), F.col("ol").alias("rlab"),
            "newval",
        )
    per_tile = (
        rooted.join(changed_df, ["rtkey", "rlab"])
        .groupBy("tkey")
        .agg(
            F.collect_list(F.struct("lab", "newval")).alias("chg")
        )
    )
    tiles_k = tiles.withColumn(
        "tkey", F.col("tx") * F.lit(1_000_003) + F.col("ty")
    )
    # plain shuffle join: a salt-and-pepper raster has O(pixels)
    # under-threshold regions, so broadcasting the change lists would
    # be O(all changed labels) on the driver AND every executor —
    # exactly the bound this rewrite exists to avoid. Catalyst still
    # broadcasts on its own when the side is genuinely small.
    joined = tiles_k.join(per_tile, ["tkey"], "left")

    def rewrite(batches):
        for pdf in batches:
            rows = []
            for _, row in pdf.iterrows():
                ts_w, ts_h = int(row["w"]), int(row["h"])
                arr = _tile_array(ts_w, ts_h, row["data"]).astype(np.int64)
                chg = row["chg"]
                if isinstance(chg, float):  # null from the left join
                    chg = None
                if chg is not None and len(chg):
                    labels, n = raster.label_components(arr)
                    lut = np.empty(n, dtype=np.int64)
                    lut[labels.ravel()] = arr.ravel()
                    for e in chg:
                        lut[int(e["lab"])] = int(e["newval"])
                    arr = lut[labels]
                rows.append(
                    (int(row["z"]), int(row["tx"]), int(row["ty"]),
                     ts_w, ts_h, arr.astype(np.uint8).tobytes())
                )
            yield pd.DataFrame(
                rows, columns=["z", "tx", "ty", "w", "h", "data"]
            )

    return joined.mapInPandas(rewrite, TILE_SCHEMA)


def _tkey(tx: int, ty: int) -> int:
    return tx * 1_000_003 + ty


def _tile_parts_pdf(pdf: pd.DataFrame, connectivity: int = 4) -> pd.DataFrame:
    """Per-tile pass shared by polygonize and sieve: 4-connected
    labeling, then three row kinds — 'region' (stats per local label),
    'border' (every edge pixel, for cross-tile merging), 'adj'
    (within-tile adjacency between DIFFERENT local labels; la in
    ``lab``, lb in ``n_pixels``)."""
    cols = [f.name for f in _PART_SCHEMA]
    frames = []
    for _, row in pdf.iterrows():
        ts_w, ts_h = int(row["w"]), int(row["h"])
        tx, ty = int(row["tx"]), int(row["ty"])
        tkey = _tkey(tx, ty)
        arr = _tile_array(ts_w, ts_h, row["data"]).astype(np.int64)
        labels, n = raster.label_components(arr, connectivity)
        gx0, gy0 = tx * ts_w, ty * ts_h
        flat_lab = labels.ravel()
        flat_val = arr.ravel()
        # per-label stats via bincount / ufunc.at — O(pixels), never
        # O(labels x pixels)
        counts = np.bincount(flat_lab, minlength=n)
        lab_val = np.zeros(n, dtype=np.int64)
        lab_val[flat_lab] = flat_val
        fi = np.tile(np.arange(ts_w, dtype=np.int64), ts_h)
        fj = np.repeat(np.arange(ts_h, dtype=np.int64), ts_w)
        minx = np.full(n, ts_w, dtype=np.int64)
        miny = np.full(n, ts_h, dtype=np.int64)
        maxx = np.full(n, -1, dtype=np.int64)
        maxy = np.full(n, -1, dtype=np.int64)
        np.minimum.at(minx, flat_lab, fi)
        np.minimum.at(miny, flat_lab, fj)
        np.maximum.at(maxx, flat_lab, fi)
        np.maximum.at(maxy, flat_lab, fj)
        labs = np.arange(n, dtype=np.int64)
        frames.append(pd.DataFrame({
            "kind": "region", "tkey": tkey, "lab": labs,
            "value": lab_val, "n_pixels": counts.astype(np.int64),
            "min_gx": gx0 + minx, "min_gy": gy0 + miny,
            "max_gx": gx0 + maxx, "max_gy": gy0 + maxy,
            "gx": -1, "gy": -1, "side": "",
        }))
        # within-tile label adjacency (different labels sharing an
        # edge), deduped via unique on packed codes
        pair_codes = []
        if ts_w > 1:
            la, lb = labels[:, :-1].ravel(), labels[:, 1:].ravel()
            m = la != lb
            pair_codes.append(
                np.minimum(la[m], lb[m]) * n + np.maximum(la[m], lb[m])
            )
        if ts_h > 1:
            la, lb = labels[:-1, :].ravel(), labels[1:, :].ravel()
            m = la != lb
            pair_codes.append(
                np.minimum(la[m], lb[m]) * n + np.maximum(la[m], lb[m])
            )
        if connectivity == 8 and ts_w > 1 and ts_h > 1:
            for la, lb in (
                (labels[:-1, :-1].ravel(), labels[1:, 1:].ravel()),
                (labels[:-1, 1:].ravel(), labels[1:, :-1].ravel()),
            ):
                m = la != lb
                pair_codes.append(
                    np.minimum(la[m], lb[m]) * n + np.maximum(la[m], lb[m])
                )
        if pair_codes:
            codes = np.unique(np.concatenate(pair_codes))
            if codes.size:
                frames.append(pd.DataFrame({
                    "kind": "adj", "tkey": tkey, "lab": codes // n,
                    "value": 0, "n_pixels": codes % n,
                    "min_gx": 0, "min_gy": 0, "max_gx": 0, "max_gy": 0,
                    "gx": -1, "gy": -1, "side": "",
                }))
        # border pixels for the cross-tile joins (vectorized per side)
        col_h = np.arange(ts_h, dtype=np.int64)
        col_w = np.arange(ts_w, dtype=np.int64)
        for ex, ey, side in [
            (np.full(ts_h, ts_w - 1, dtype=np.int64), col_h, "R"),
            (col_w, np.full(ts_w, ts_h - 1, dtype=np.int64), "D"),
            (np.zeros(ts_h, dtype=np.int64), col_h, "L"),
            (col_w, np.zeros(ts_w, dtype=np.int64), "U"),
        ]:
            frames.append(pd.DataFrame({
                "kind": "border", "tkey": tkey, "lab": labels[ey, ex],
                "value": arr[ey, ex], "n_pixels": 0,
                "min_gx": 0, "min_gy": 0, "max_gx": 0, "max_gy": 0,
                "gx": gx0 + ex, "gy": gy0 + ey, "side": side,
            }))
    if not frames:
        return pd.DataFrame({c: [] for c in cols})
    return pd.concat(frames, ignore_index=True)[cols]


def _tile_parts(tiles: DataFrame, connectivity: int = 4) -> DataFrame:
    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        return _tile_parts_pdf(pdf, connectivity)

    return tiles.groupBy("tx", "ty").applyInPandas(run, _PART_SCHEMA)


def _cross_tile_edges(
    parts: DataFrame, same_value_only: bool, connectivity: int = 4
) -> DataFrame:
    """(ta, la, tb, lb) pairs of locally-labeled regions adjacent
    across a tile boundary; optionally only equal-valued pairs
    (polygonize merging) or all pairs (sieve adjacency). 8-connect
    adds the diagonal strip pairs (|dy| = 1 across a vertical
    boundary, |dx| = 1 across a horizontal one — tile-corner contact
    falls out of the vertical case)."""
    borders = parts.filter(F.col("kind") == "border").select(
        "tkey", "lab", "value", "gx", "gy", "side"
    )
    right = borders.filter(F.col("side") == "R").alias("a")
    left = borders.filter(F.col("side") == "L").alias("b")
    down = borders.filter(F.col("side") == "D").alias("a")
    up = borders.filter(F.col("side") == "U").alias("b")
    edge_sel = [
        F.col("a.tkey").alias("ta"), F.col("a.lab").alias("la"),
        F.col("b.tkey").alias("tb"), F.col("b.lab").alias("lb"),
    ]
    h_dy = (
        F.abs(F.col("a.gy") - F.col("b.gy")) <= 1
        if connectivity == 8
        else F.col("a.gy") == F.col("b.gy")
    )
    v_dx = (
        F.abs(F.col("a.gx") - F.col("b.gx")) <= 1
        if connectivity == 8
        else F.col("a.gx") == F.col("b.gx")
    )
    h_cond = (F.col("a.gx") + 1 == F.col("b.gx")) & h_dy
    v_cond = v_dx & (F.col("a.gy") + 1 == F.col("b.gy"))
    if same_value_only:
        h_cond = h_cond & (F.col("a.value") == F.col("b.value"))
        v_cond = v_cond & (F.col("a.value") == F.col("b.value"))
    h_edges = right.join(left, h_cond).select(edge_sel)
    v_edges = down.join(up, v_cond).select(edge_sel)
    return h_edges.unionByName(v_edges).distinct()


def _cc_contract_pdf(batches):
    """Per-partition union-find over whatever edges landed in this
    task → (n1, n2, r1, r2) rows with (r1, r2) = partition-local min
    root (lexicographic over the two-long node key). O(batch) memory
    per task, never the whole graph anywhere."""
    for pdf in batches:
        parent: dict[tuple, tuple] = {}

        def find(x: tuple) -> tuple:
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != x:
                parent[x], x = r, parent[x]
            return r

        for a1, a2, b1, b2 in zip(
            pdf["a1"].to_numpy(), pdf["a2"].to_numpy(),
            pdf["b1"].to_numpy(), pdf["b2"].to_numpy(),
        ):
            ra, rb = find((int(a1), int(a2))), find((int(b1), int(b2)))
            if ra != rb:
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        nodes = {
            (int(a1), int(a2))
            for a1, a2 in zip(pdf["a1"], pdf["a2"])
        } | {
            (int(b1), int(b2))
            for b1, b2 in zip(pdf["b1"], pdf["b2"])
        }
        roots = [find(n) for n in nodes]
        yield pd.DataFrame({
            "n1": [n[0] for n in nodes], "n2": [n[1] for n in nodes],
            "r1": [r[0] for r in roots], "r2": [r[1] for r in roots],
        })


def cc_roots_df(edges: DataFrame, max_rounds: int = 32) -> DataFrame:
    """Distributed connected components over an edge DataFrame with
    two-long node keys (a1, a2)—(b1, b2) → (n1, n2, r1, r2) rows for
    every node whose root differs from itself (root = lexicographic
    component min). Replaces driver-side union-finds (the r02
    scale-killer: collecting the edge list is O(edges) driver memory).

    Algorithm: iterative distributed union-find CONTRACTION. Each
    round runs a partition-local union-find inside mapInPandas (each
    task sees only its hash-random slice of the edges), then rebuilds
    the graph over the round's representatives: a node assigned
    different local roots by different tasks yields a (root, root)
    edge in the contracted graph. Components collapse by roughly the
    partition count per round (hash mixing), so even path-shaped
    graphs (the hash-min worst case: rounds ~ graph diameter)
    converge in O(log_P E) rounds — 2-3 in practice. The cumulative
    node→representative map is itself a DataFrame, remapped per
    round; the driver only sees an is-converged flag (no edge data).
    Model: Kiveris et al., "Connected Components in MapReduce and
    Beyond" (SoCC'14) — alternating contraction rounds."""
    spark = edges.sparkSession
    cur = edges.select("a1", "a2", "b1", "b2").filter(
        (F.col("a1") != F.col("b1")) | (F.col("a2") != F.col("b2"))
    )
    mapping = None
    # ~rows of edge quadruples a partition-local union-find handles
    # comfortably (tuple dict ≈ 200 B/entry → ~400 MB peak per task)
    _EDGES_PER_TASK = 2_000_000
    for _ in range(max_rounds):
        # materialize the round's edge list once (distributed), so the
        # emptiness probe and the contraction don't recompute it
        cur = cur.localCheckpoint(eager=True)
        n_edges = cur.count()  # free: data is checkpointed
        if n_edges == 0:
            break
        # adaptive contraction width: components collapse by roughly
        # the PARTITION COUNT per round, so fewer partitions = faster
        # convergence — a graph that fits one task resolves in a
        # single local union-find (round 2 just observes emptiness).
        # Large graphs keep the full spread; memory per task stays
        # bounded by _EDGES_PER_TASK either way.
        want = max(1, -(-n_edges // _EDGES_PER_TASK))
        cur = cur.coalesce(want)  # no-op when already narrower
        local = cur.mapInPandas(
            _cc_contract_pdf, "n1 long, n2 long, r1 long, r2 long"
        )
        # global representative per node this round = min local root;
        # extra local roots become contracted-graph edges
        agg = local.groupBy("n1", "n2").agg(
            F.min(F.struct("r1", "r2")).alias("gmin"),
            F.collect_set(F.struct("r1", "r2")).alias("roots"),
        ).localCheckpoint(eager=True)
        round_map = agg.select(
            "n1", "n2",
            F.col("gmin.r1").alias("r1"), F.col("gmin.r2").alias("r2"),
        )
        if mapping is None:
            mapping = round_map
        else:
            # remap existing representatives through this round
            mapping = (
                mapping.join(
                    round_map.select(
                        F.col("n1").alias("r1"), F.col("n2").alias("r2"),
                        F.col("r1").alias("nr1"), F.col("r2").alias("nr2"),
                    ),
                    ["r1", "r2"],
                    "left",
                )
                .select(
                    "n1", "n2",
                    F.coalesce("nr1", "r1").alias("r1"),
                    F.coalesce("nr2", "r2").alias("r2"),
                )
                .localCheckpoint(eager=True)
            )
        other = agg.select(
            F.col("gmin.r1").alias("a1"), F.col("gmin.r2").alias("a2"),
            F.explode("roots").alias("rt"),
        )
        cur = (
            other.select(
                "a1", "a2",
                F.col("rt.r1").alias("b1"), F.col("rt.r2").alias("b2"),
            )
            .filter(
                (F.col("a1") != F.col("b1"))
                | (F.col("a2") != F.col("b2"))
            )
            .distinct()
        )
    if mapping is None:
        return spark.createDataFrame(
            [], "n1 long, n2 long, r1 long, r2 long"
        )
    return mapping.filter(
        (F.col("r1") != F.col("n1")) | (F.col("r2") != F.col("n2"))
    )


def _root_map_df(
    parts: DataFrame, same_value_only: bool, connectivity: int = 4,
) -> DataFrame:
    """Cross-tile region root map (tkey, lab, rtkey, rlab) via the
    distributed contraction (see cc_roots_df) — node key = the
    (tkey, local label) pair, no packing limits."""
    edges = _cross_tile_edges(parts, same_value_only, connectivity)
    roots = cc_roots_df(
        edges.select(
            F.col("ta").alias("a1"), F.col("la").alias("a2"),
            F.col("tb").alias("b1"), F.col("lb").alias("b2"),
        )
    )
    return roots.select(
        F.col("n1").alias("tkey"), F.col("n2").alias("lab"),
        F.col("r1").alias("rtkey"), F.col("r2").alias("rlab"),
    )


def polygonize(
    tiles: DataFrame, nx: int | None = None, connectivity: int = 4
) -> DataFrame:
    """Connected regions of equal-valued pixels (4-connect) across the
    whole tile grid → one row per region with pixel count and bbox.

    Per-tile labeling runs fully parallel; the cross-tile merge works
    on border pixels only: every tile emits its edge pixels, adjacent
    pixels of equal value across a tile boundary become union edges,
    and the resulting component graph (size O(total perimeter), orders
    of magnitude smaller than the raster) resolves to per-component
    roots by DISTRIBUTED hash-min label propagation (_root_map_df) —
    no edge ever reaches the driver. Semantics match
    alg/polygonize.cpp:73's scanline merge (4-connectedness).
    """
    parts = _tile_parts(tiles, connectivity).persist()
    map_df = _root_map_df(
        parts, same_value_only=True, connectivity=connectivity
    )
    regions = parts.filter(F.col("kind") == "region")
    merged = (
        regions.join(map_df, ["tkey", "lab"], "left")
        .withColumn("rtkey", F.coalesce("rtkey", "tkey"))
        .withColumn("rlab", F.coalesce("rlab", "lab"))
        .groupBy("rtkey", "rlab")
        .agg(
            F.first("value").alias("value"),
            F.sum("n_pixels").alias("n_pixels"),
            F.min("min_gx").alias("min_gx"),
            F.min("min_gy").alias("min_gy"),
            F.max("max_gx").alias("max_gx"),
            F.max("max_gy").alias("max_gy"),
        )
        .drop("rtkey", "rlab")
    )
    return merged.select([f.name for f in REGION_SCHEMA])


def _trace_rings(segs: np.ndarray) -> list[np.ndarray]:
    """Assemble directed unit boundary edges into closed rings.

    Edges are emitted clockwise around each pixel (image coords, y
    down), so a region's outer ring comes out clockwise and its holes
    counter-clockwise. At self-touching vertices (degree 4) the walk
    takes the rightmost turn relative to the incoming direction, which
    keeps every ring simple. Collinear runs are compressed."""
    from collections import defaultdict

    outs: dict[tuple, list] = defaultdict(list)
    for x1, y1, x2, y2 in segs:
        outs[(int(x1), int(y1))].append((int(x2), int(y2)))
    used: set[tuple] = set()
    rings: list[np.ndarray] = []
    for x1, y1, x2, y2 in segs:
        e0 = (int(x1), int(y1), int(x2), int(y2))
        if e0 in used:
            continue
        ring = [(e0[0], e0[1])]
        cur = e0
        used.add(e0)
        while True:
            cx, cy = cur[2], cur[3]
            if (cx, cy) == (ring[0][0], ring[0][1]):
                break
            cands = [
                (cx, cy, nx, ny)
                for nx, ny in outs[(cx, cy)]
                if (cx, cy, nx, ny) not in used
            ]
            if not cands:
                break  # defensive: malformed input
            if len(cands) == 1:
                nxt = cands[0]
            else:
                # rightmost turn: incoming dir d, candidate dir c →
                # sort by cross(d, c) ascending (right turn = negative
                # cross in y-down coords)
                dx, dy = cur[2] - cur[0], cur[3] - cur[1]
                nxt = min(
                    cands,
                    key=lambda c: dx * (c[3] - c[1]) - dy * (c[2] - c[0]),
                )
            ring.append((cur[2], cur[3]))
            used.add(nxt)
            cur = nxt
        arr = np.array(ring + [ring[0]], dtype=np.float64)
        # compress collinear runs
        if len(arr) > 3:
            keep = [0]
            for i in range(1, len(arr) - 1):
                a, b, c = arr[keep[-1]], arr[i], arr[i + 1]
                if (b[0] - a[0]) * (c[1] - a[1]) != (b[1] - a[1]) * (
                    c[0] - a[0]
                ):
                    keep.append(i)
            arr = np.vstack([arr[keep], arr[:1]])
        rings.append(arr)
    return rings


POLY_RING_SCHEMA = (
    "value long, n_pixels long, n_holes long, geom_wkb binary"
)


def polygonize_rings(tiles: DataFrame, nodata: int | None = None) -> DataFrame:
    """Polygonize with GEOMETRIC output: one row per connected region
    (4-connect) carrying the actual boundary polygon — outer ring plus
    holes — as WKB (the full GDALPolygonize contract,
    alg/polygonize.cpp:73 + OGRPolygonWriter
    alg/polygonize_polygonizer.cpp:237, not just region stats).

    Plan: a halo exchange lets every tile emit its regions' boundary
    edges VALUE-locally (an edge exists where the neighbor pixel —
    possibly in another tile — has a different value, so cross-tile
    interior edges never materialize); the polygonize root map assigns
    every edge its global region; one groupBy(region) task traces the
    edges into rings (work = that region's perimeter). Shuffle volume
    = total boundary length, never area. ``nodata`` masks a value out
    entirely (GDALPolygonize's mask band)."""
    parts = _tile_parts(tiles).persist()
    map_df = _root_map_df(parts, same_value_only=True)

    # halo fill 255 = "outside the raster" sentinel (every boundary
    # edge against it is a real region edge); tile values must stay
    # ≤ 254 — the engine's rasters are value-bounded (≤ 250)
    padded = add_halo(tiles, pad=1, fill=255, dtype="uint8")

    def emit(batches):
        for pdf in batches:
            frames = []
            for _, r in pdf.iterrows():
                ts_w, ts_h, p = int(r["w"]), int(r["h"]), int(r["pad"])
                tx, ty = int(r["tx"]), int(r["ty"])
                a = np.frombuffer(r["data"], dtype=np.uint8).reshape(
                    ts_h + 2 * p, ts_w + 2 * p
                ).astype(np.int64)
                core = a[1:-1, 1:-1]
                labels, n = raster.label_components(core)
                up = a[0:-2, 1:-1]
                down = a[2:, 1:-1]
                left = a[1:-1, 0:-2]
                right = a[1:-1, 2:]
                gx0, gy0 = tx * ts_w, ty * ts_h
                xs = np.arange(ts_w, dtype=np.int64)[None, :]
                ys = np.arange(ts_h, dtype=np.int64)[:, None]
                gx = np.broadcast_to(gx0 + xs, core.shape)
                gy = np.broadcast_to(gy0 + ys, core.shape)
                segs = []
                # clockwise edges (image coords): top L→R, right T→B,
                # bottom R→L, left B→T
                for diff, x1, y1, x2, y2 in (
                    (core != up, gx, gy, gx + 1, gy),
                    (core != right, gx + 1, gy, gx + 1, gy + 1),
                    (core != down, gx + 1, gy + 1, gx, gy + 1),
                    (core != left, gx, gy + 1, gx, gy + 1 - 1),
                ):
                    m = diff
                    segs.append(pd.DataFrame({
                        "tkey": _tkey(tx, ty),
                        "lab": labels[m],
                        "value": core[m],
                        "x1": x1[m] if isinstance(x1, np.ndarray) else x1,
                        "y1": y1[m] if isinstance(y1, np.ndarray) else y1,
                        "x2": x2[m] if isinstance(x2, np.ndarray) else x2,
                        "y2": y2[m] if isinstance(y2, np.ndarray) else y2,
                    }))
                frames.extend(segs)
            if frames:
                yield pd.concat(frames, ignore_index=True)

    seg_schema = (
        "tkey long, lab long, value long, "
        "x1 long, y1 long, x2 long, y2 long"
    )
    segs = padded.mapInPandas(emit, seg_schema)
    if nodata is not None:
        segs = segs.filter(F.col("value") != nodata)
    rooted = (
        segs.join(map_df, ["tkey", "lab"], "left")
        .withColumn("rtkey", F.coalesce("rtkey", "tkey"))
        .withColumn("rlab", F.coalesce("rlab", "lab"))
    )

    def assemble(pdf: pd.DataFrame) -> pd.DataFrame:
        from .. import wkb as wkb_mod

        value = int(pdf["value"].iloc[0])
        arr = pdf[["x1", "y1", "x2", "y2"]].to_numpy(dtype=np.int64)
        rings = _trace_rings(arr)
        if not rings:
            return pd.DataFrame(
                [], columns=["value", "n_pixels", "n_holes", "geom_wkb"]
            )
        # outer ring: clockwise in image coords → NEGATIVE shoelace in
        # the y-down frame; holes have the opposite sign
        areas = [
            0.5 * float(
                np.sum(
                    rg[:-1, 0] * rg[1:, 1] - rg[1:, 0] * rg[:-1, 1]
                )
            )
            for rg in rings
        ]
        outer_i = int(np.argmax(np.abs(areas)))
        outer = rings[outer_i]
        holes = [rg for i, rg in enumerate(rings) if i != outer_i]
        n_pixels = int(abs(areas[outer_i]) - sum(
            abs(a) for i, a in enumerate(areas) if i != outer_i
        ))
        return pd.DataFrame({
            "value": [value],
            "n_pixels": [n_pixels],
            "n_holes": [len(holes)],
            "geom_wkb": [wkb_mod.polygon([outer, *holes])],
        })

    return rooted.groupBy("rtkey", "rlab").applyInPandas(
        assemble, POLY_RING_SCHEMA
    )


def footprint(tiles: DataFrame, threshold: int = 1) -> DataFrame:
    """Raster footprint: outline regions of valid data (val >=
    threshold) — the mask + polygonize composition of gdal_footprint
    (apps/gdal_footprint_lib.cpp:826,1281). Returns the valid-data
    regions (value=1 rows of the polygonize output) with pixel counts
    and bboxes; feed the bboxes/pieces to geometry.simplify_dp for the
    simplified outline."""

    def binarize(batches):
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                arr = _tile_array(int(r["w"]), int(r["h"]), r["data"])
                rows.append(
                    (int(r["z"]), int(r["tx"]), int(r["ty"]),
                     int(r["w"]), int(r["h"]),
                     (arr >= threshold).astype(np.uint8).tobytes())
                )
            yield pd.DataFrame(
                rows, columns=["z", "tx", "ty", "w", "h", "data"]
            )

    mask = tiles.mapInPandas(binarize, TILE_SCHEMA)
    return polygonize(mask).filter(F.col("value") == 1)
