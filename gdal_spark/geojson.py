"""GeoJSON / GeoJSONSeq source+sink — the OGR GeoJSON driver analog
(``ogr/ogrsf_frmts/geojson``), from the PUBLIC RFC 7946 spec.

Two container shapes, matching the reference's two drivers:
* **GeoJSONSeq** (newline-delimited features, the reference's
  scale-preferred variant): reading is ``spark.read.text`` — Spark's
  native splittable line source, so a 10 TB .geojsonl reads with
  full parallelism and no custom input format — followed by one
  Arrow-batched parse kernel; writing emits one part file per
  input partition.
* **GeoJSON** (one FeatureCollection per file): file-parallel, one
  granule per task, for the sharded-small-files layout.

Schema philosophy (Spark-first): the parser emits ``geometry`` as
plain WKB binary (feeding every downstream operator unchanged) plus
``properties`` as a CANONICAL JSON string and ``feature_id`` — so
property access is native Spark (``F.get_json_object`` /
``from_json`` with a user schema) instead of a Python-side schema
guess; the reference does the equivalent field-type sniffing in
OGRGeoJSONReaderAddOrUpdateField, which we deliberately leave to
Catalyst's from_json.
"""

from __future__ import annotations

import json

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import wkb as _wkb


# --------------------------------------------------------------------------
# geometry codec (RFC 7946 §3.1 <-> WKB)
# --------------------------------------------------------------------------


def geometry_to_wkb(geom: dict) -> bytes:
    t = geom["type"]
    c = geom["coordinates"]
    if t == "Point":
        return _wkb.point(float(c[0]), float(c[1]))
    if t == "LineString":
        return _wkb.linestring([(float(x), float(y)) for x, y, *_ in c])
    if t == "Polygon":
        return _wkb.polygon(
            [[(float(x), float(y)) for x, y, *_ in ring] for ring in c]
        )
    if t == "MultiPoint":
        return _multi(_wkb.MULTIPOINT,
                      [_wkb.point(float(p[0]), float(p[1])) for p in c])
    if t == "MultiLineString":
        return _multi(
            _wkb.MULTILINESTRING,
            [_wkb.linestring([(float(x), float(y)) for x, y, *_ in ls])
             for ls in c],
        )
    if t == "MultiPolygon":
        return _multi(
            _wkb.MULTIPOLYGON,
            [_wkb.polygon(
                [[(float(x), float(y)) for x, y, *_ in ring]
                 for ring in poly]
            ) for poly in c],
        )
    raise ValueError(f"unsupported GeoJSON geometry type {t!r}")


def _multi(code: int, parts: list[bytes]) -> bytes:
    import struct

    return (
        b"\x01" + struct.pack("<I", code)
        + struct.pack("<I", len(parts))
        + b"".join(parts)
    )


def wkb_to_geometry(buf: bytes) -> dict:
    gtype, payload = _wkb.parse(bytes(buf))

    def ring_list(rings):
        return [[[float(x), float(y)] for x, y in np.asarray(r)]
                for r in rings]

    if gtype == _wkb.POINT:
        return {"type": "Point", "coordinates": [payload[0], payload[1]]}
    if gtype == _wkb.LINESTRING:
        return {
            "type": "LineString",
            "coordinates": [[float(x), float(y)]
                            for x, y in np.asarray(payload)],
        }
    if gtype == _wkb.POLYGON:
        return {"type": "Polygon", "coordinates": ring_list(payload)}
    if gtype == _wkb.MULTIPOINT:
        return {
            "type": "MultiPoint",
            "coordinates": [[p[0], p[1]] for p in payload],
        }
    if gtype == _wkb.MULTILINESTRING:
        return {
            "type": "MultiLineString",
            "coordinates": [
                [[float(x), float(y)] for x, y in np.asarray(ls)]
                for ls in payload
            ],
        }
    if gtype == _wkb.MULTIPOLYGON:
        return {
            "type": "MultiPolygon",
            "coordinates": [ring_list(poly) for poly in payload],
        }
    raise ValueError(f"unsupported WKB type {gtype}")


# --------------------------------------------------------------------------
# feature line codec
# --------------------------------------------------------------------------

_FEATURE_SCHEMA = "feature_id string, properties string, geometry binary"


def _parse_features(objs) -> pd.DataFrame:
    ids, props, geoms = [], [], []
    for o in objs:
        if not o or o.get("type") != "Feature":
            continue
        g = o.get("geometry")
        ids.append(None if o.get("id") is None else str(o["id"]))
        props.append(
            json.dumps(o.get("properties") or {}, sort_keys=True,
                       separators=(",", ":"))
        )
        geoms.append(None if g is None else geometry_to_wkb(g))
    return pd.DataFrame(
        {"feature_id": ids, "properties": props, "geometry": geoms}
    )


def read_geojson_seq(spark: SparkSession, path: str) -> DataFrame:
    """Newline-delimited features via the native splittable text
    source + one Arrow parse kernel. Leading RS (0x1e, the RFC 8142
    framing the reference also accepts) is stripped."""
    lines = spark.read.text(path)

    def gen(batches):
        for pdf in batches:
            objs = []
            for ln in pdf["value"]:
                s = ln.strip().lstrip("\x1e")
                if s:
                    objs.append(json.loads(s))
            if objs:
                yield _parse_features(objs)

    return lines.mapInPandas(gen, _FEATURE_SCHEMA)


def read_geojson(
    spark: SparkSession, paths: list[str], opener=None
) -> DataFrame:
    """One FeatureCollection per file, one file per task. ``opener``
    (picklable path→file-like; default shared-FS open — see
    gdal_spark.io) is the object-store seam."""
    from .io import local_opener, scan_chunks

    opener = opener or local_opener

    def read_chunk(p):
        with opener(p) as f:
            doc = json.load(f)
        feats = (
            doc.get("features", [])
            if doc.get("type") == "FeatureCollection"
            else [doc]
        )
        return _parse_features(feats)

    return scan_chunks(spark, list(paths), read_chunk, _FEATURE_SCHEMA)


def write_geojson_seq(
    df: DataFrame,
    out_dir: str,
    geometry_col: str = "geometry",
    id_col: str | None = None,
) -> DataFrame:
    """Partition-parallel GeoJSONSeq sink: every non-geometry column
    becomes a property (canonical separators, sorted keys —
    deterministic bytes per partition content); one part file per
    input partition, manifest (path, n_rows). Shared-FS contract
    (:func:`gdal_spark.io.write_granules`)."""
    from .io import write_granules

    attr_cols = [
        c for c in df.columns if c not in (geometry_col, id_col)
    ]

    def encode(pdf):
        lines = []
        cols = [pdf[c] for c in attr_cols]
        geos = pdf[geometry_col]
        fids = pdf[id_col] if id_col else [None] * len(pdf)
        for i, (g, fid) in enumerate(zip(geos, fids)):
            props = {}
            for name, col in zip(attr_cols, cols):
                v = col.iloc[i]
                if isinstance(v, np.generic):
                    v = v.item()
                props[name] = v
            feat = {"type": "Feature"}
            if fid is not None:
                feat["id"] = (
                    fid.item() if isinstance(fid, np.generic) else fid
                )
            feat["properties"] = props
            feat["geometry"] = (
                None if g is None else wkb_to_geometry(bytes(g))
            )
            lines.append(
                json.dumps(feat, sort_keys=True, separators=(",", ":"))
                + "\n"
            )
        return {".geojsonl": "".join(lines).encode("utf-8")}, {}

    return write_granules(df, out_dir, geometry_col, encode)


def read_geojson_seq_stream(spark: SparkSession, path: str) -> DataFrame:
    """Streaming twin of :func:`read_geojson_seq` — the OGR
    GeoJSONSeq driver's append-friendly arrival model: a text
    file-arrival stream over a landing directory, each new
    .geojsonl micro-batched through the SAME parse kernel as the
    batch scan (parity by construction). Stateless projection: no
    watermark or state store; downstream composes with
    ``streaming.stream_spatial_join`` for the geocoded-arrival
    pipeline."""
    lines = spark.readStream.format("text").load(path)

    def gen(batches):
        for pdf in batches:
            objs = []
            for ln in pdf["value"]:
                s = ln.strip().lstrip("\x1e")
                if s:
                    objs.append(json.loads(s))
            if objs:
                yield _parse_features(objs)

    return lines.mapInPandas(gen, _FEATURE_SCHEMA)
