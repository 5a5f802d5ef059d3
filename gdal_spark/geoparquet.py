"""GeoParquet source/sink — the OGR Parquet driver analog
(``ogr/ogrsf_frmts/parquet``), writing the PUBLIC GeoParquet 1.1
metadata convention (OGC spec): a ``geo`` key in the parquet
key-value footer metadata carrying JSON with the primary geometry
column, its WKB encoding, the occurring geometry types, and the
per-file bbox.

The engine's geometry interchange is already WKB-in-binary-columns
(``gdal_spark.wkb``), so a GeoParquet file is "parquet we already
write, plus honest footer metadata" — exactly how the reference
treats it (the OGR driver writes the same Arrow tables and attaches
the geo JSON).

Spark shape: partition-parallel sink (``io.write_granules``) — each
input partition becomes one part file with ITS OWN
bbox/geometry_types footer (GeoParquet is per-file metadata by
design, so per-partition metadata is spec-correct and needs no
global pass) and one manifest row. Bbox/type extraction is one
numpy pass over the partition's WKB. Reading back is a plain
``spark.read.parquet`` (Spark needs no special handling for the
extra footer key) plus a footer probe for the metadata.

DEPLOYMENT: same shared-filesystem/local-mode requirement as
``warc.write_warc_dir`` — tasks open plain paths; route through a
Hadoop-FS writer for object stores.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

from . import wkb as _wkb

_TYPE_NAMES = {
    _wkb.POINT: "Point",
    _wkb.LINESTRING: "LineString",
    _wkb.POLYGON: "Polygon",
    _wkb.MULTIPOINT: "MultiPoint",
    _wkb.MULTILINESTRING: "MultiLineString",
    _wkb.MULTIPOLYGON: "MultiPolygon",
}


def geo_metadata(
    geometry_col: str,
    geometry_types: list[str],
    bbox: tuple[float, float, float, float] | None,
    crs: dict | None = None,
) -> dict:
    """The GeoParquet 1.1 ``geo`` JSON payload."""
    col: dict = {
        "encoding": "WKB",
        "geometry_types": sorted(geometry_types),
    }
    if bbox is not None:
        col["bbox"] = list(bbox)
    if crs is not None:
        col["crs"] = crs
    return {
        "version": "1.1.0",
        "primary_column": geometry_col,
        "columns": {geometry_col: col},
    }


def write_geoparquet(
    df: DataFrame,
    out_dir: str,
    geometry_col: str = "geometry",
    crs: dict | None = None,
) -> DataFrame:
    """Partition-parallel GeoParquet sink: one part file per input
    partition, each carrying its own spec-correct ``geo`` footer
    (bbox + geometry_types computed from that file's rows). Returns
    the manifest DataFrame (path, n_rows, xmin, ymin, xmax, ymax)."""
    from .io import write_granules

    def encode(body):
        types: set[str] = set()
        boxes = []
        # NULL geometries are legal in the spec (the reference Parquet
        # driver writes them); they contribute neither to
        # geometry_types nor to the file bbox.
        for buf in body[geometry_col]:
            if buf is None:
                continue
            gt, _ = _wkb.parse(bytes(buf))
            types.add(_TYPE_NAMES[gt])
            boxes.append(_wkb.bbox(bytes(buf)))
        if boxes:
            bx = np.asarray(boxes, dtype=np.float64)
            bbox = (
                float(bx[:, 0].min()), float(bx[:, 1].min()),
                float(bx[:, 2].max()), float(bx[:, 3].max()),
            )
        else:
            # all-null partition: bbox is optional per spec — omit it.
            bbox = None
        meta = geo_metadata(geometry_col, sorted(types), bbox, crs)
        table = pa.Table.from_pandas(body, preserve_index=False)
        table = table.replace_schema_metadata(
            {**(table.schema.metadata or {}),
             b"geo": json.dumps(meta).encode()}
        )
        sink = pa.BufferOutputStream()
        pq.write_table(table, sink)
        mb = bbox if bbox is not None else (float("nan"),) * 4
        return (
            {".parquet": sink.getvalue().to_pybytes()},
            dict(zip(("xmin", "ymin", "xmax", "ymax"), mb)),
        )

    return write_granules(
        df, out_dir, geometry_col, encode,
        "path string, n_rows long, xmin double, ymin double, "
        "xmax double, ymax double",
    )


def read_geoparquet(
    spark: SparkSession, path: str
) -> tuple[DataFrame, dict]:
    """Read a GeoParquet directory: plain distributed parquet scan
    plus one driver-side footer probe for the ``geo`` metadata
    (merged across part files: union of geometry_types, union bbox)."""
    df = spark.read.parquet(path)
    metas = []
    root = path
    parts = sorted(
        p for p in os.listdir(root) if p.endswith(".parquet")
    ) if os.path.isdir(root) else []
    for p in parts:
        md = pq.ParquetFile(os.path.join(root, p)).schema_arrow.metadata
        if md and b"geo" in md:
            metas.append(json.loads(md[b"geo"]))
    if not metas:
        return df, {}
    primary = metas[0]["primary_column"]
    types: set[str] = set()
    bbox = None
    for m in metas:
        col = m["columns"][m["primary_column"]]
        types.update(col.get("geometry_types", []))
        b = col.get("bbox")
        if b:
            bbox = b if bbox is None else [
                min(bbox[0], b[0]), min(bbox[1], b[1]),
                max(bbox[2], b[2]), max(bbox[3], b[3]),
            ]
    merged = geo_metadata(primary, sorted(types), tuple(bbox) if bbox else None)
    return df, merged
