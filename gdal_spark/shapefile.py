"""Shapefile source/sink — the OGR Shapefile driver analog
(``ogr/ogrsf_frmts/shape``, shapelib), from the PUBLIC ESRI Shapefile
Technical Description (1998) and the dBase III .dbf layout.

From-spec like WARC/GeoTIFF/PNG/JPEG/MVT:
* ``.shp`` — 100-byte header (file code 9994 BE, length in 16-bit
  words BE, version 1000 LE, shape type LE, bbox doubles), records
  of (record#, content length) BE headers + LE shape payloads; shape
  types Null(0) Point(1) PolyLine(3) Polygon(5) MultiPoint(8).
* ``.shx`` — same header + (offset, length) BE pairs per record —
  the RANGED-SCAN index: any record range is two seeks away.
* ``.dbf`` — dBase III: version byte 0x03, record count/offsets,
  32-byte field descriptors (name[11], type C/N/F/L/D, length,
  decimals), fixed-width ASCII records.

Geometry mapping follows the reference: shapefile polygons store all
rings flat with OUTER rings clockwise and holes counter-clockwise;
assembly assigns each hole to the first outer ring containing its
first vertex — OGRGeometryFactory::organizePolygons' default
heuristic (ogr/ogrgeometryfactory.cpp:1997-2064), evaluated with the
engine's own ray-cast PIP.

Spark shape:
* :func:`read_shapefile_ranged` — one path or many: the driver reads
  ONLY each .shx size and the first .dbf header; each record range
  is one task that seek-reads its slice of .shx/.shp/.dbf — a
  multi-GB shapefile scans with full parallelism and zero record
  bytes through the driver.
* :func:`write_shapefile_dir` — partition-parallel sink (one
  .shp/.shx/.dbf triple per input partition, manifest per file) —
  which also makes every test fixture self-contained.

Same shared-filesystem/local-mode deployment contract as the other
granule sources/sinks.
"""

from __future__ import annotations

import os
import struct

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from . import geometry as geom
from . import wkb as _wkb

NULL, POINT, POLYLINE, POLYGON, MULTIPOINT = 0, 1, 3, 5, 8


# ------------------------------------------------------------------
# shape record codec
# ------------------------------------------------------------------


def _ring_cw(ring: np.ndarray) -> bool:
    """Shapefile outer rings are CLOCKWISE (signed area < 0 in the
    usual CCW-positive convention)."""
    return geom.ring_area(np.asarray(ring, dtype=np.float64)) < 0


def shape_to_wkb(buf: bytes) -> bytes | None:
    """One .shp record payload -> WKB (None for Null shapes)."""
    (stype,) = struct.unpack_from("<i", buf, 0)
    if stype == NULL:
        return None
    if stype == POINT:
        x, y = struct.unpack_from("<2d", buf, 4)
        return _wkb.point(x, y)
    if stype == MULTIPOINT:
        (n,) = struct.unpack_from("<i", buf, 36)
        pts = np.frombuffer(buf, "<f8", 2 * n, 40).reshape(n, 2)
        return b"\x01" + struct.pack("<II", _wkb.MULTIPOINT, n) + b"".join(
            _wkb.point(x, y) for x, y in pts
        )
    if stype in (POLYLINE, POLYGON):
        nparts, npoints = struct.unpack_from("<2i", buf, 36)
        parts = np.frombuffer(buf, "<i4", nparts, 44)
        pts = np.frombuffer(
            buf, "<f8", 2 * npoints, 44 + 4 * nparts
        ).reshape(npoints, 2)
        bounds = list(parts) + [npoints]
        rings = [
            pts[bounds[i] : bounds[i + 1]] for i in range(nparts)
        ]
        if stype == POLYLINE:
            if nparts == 1:
                return _wkb.linestring(rings[0])
            return b"\x01" + struct.pack(
                "<II", _wkb.MULTILINESTRING, nparts
            ) + b"".join(_wkb.linestring(r) for r in rings)
        # polygon: organize rings (stored outer CW, holes CCW) and
        # normalize to the engine's WKB convention (outer CCW, holes
        # CW) — reversal preserves the first vertex of a closed ring,
        # so write->read round trips are byte-exact
        outers = [r[::-1] for r in rings if _ring_cw(r)]
        holes = [r[::-1] for r in rings if not _ring_cw(r)]
        if not outers:  # degenerate: treat all as outers
            outers, holes = [r[::-1] for r in rings], []
        polys: list[list[np.ndarray]] = [[o] for o in outers]
        for h in holes:
            placed = False
            for p in polys:
                if geom.points_in_ring(
                    h[0:1, 0], h[0:1, 1], p[0]
                )[0]:
                    p.append(h)
                    placed = True
                    break
            if not placed:
                polys.append([h])  # orphan hole -> own polygon
        if len(polys) == 1:
            return _wkb.polygon([r.tolist() for r in polys[0]])
        return _wkb.multipolygon(
            [[r.tolist() for r in p] for p in polys]
        )
    raise ValueError(f"unsupported shape type {stype}")


def wkb_to_shape(wkb_buf: bytes | None) -> bytes:
    """WKB -> one .shp record payload (inverse of shape_to_wkb)."""
    if wkb_buf is None:
        return struct.pack("<i", NULL)
    gt, payload = _wkb.parse(bytes(wkb_buf))
    if gt == _wkb.POINT:
        return struct.pack("<i2d", POINT, payload[0], payload[1])

    def _poly_parts(gtype, rings_sets):
        rings = []
        for k, rset in enumerate(rings_sets):
            for j, r in enumerate(rset):
                r = np.asarray(r, dtype=np.float64)
                if not (r[0] == r[-1]).all():
                    r = np.vstack([r, r[:1]])
                cw = geom.ring_area(r) < 0
                outer = j == 0
                # enforce spec orientation: outer CW, holes CCW
                if outer != cw:
                    r = r[::-1]
                rings.append(r)
        return rings

    if gt in (_wkb.LINESTRING, _wkb.MULTILINESTRING):
        parts = [payload] if gt == _wkb.LINESTRING else payload
        parts = [np.asarray(p, dtype=np.float64) for p in parts]
        stype = POLYLINE
    elif gt in (_wkb.POLYGON, _wkb.MULTIPOLYGON):
        polys = [payload] if gt == _wkb.POLYGON else payload
        parts = _poly_parts(gt, polys)
        stype = POLYGON
    elif gt == _wkb.MULTIPOINT:
        pts = np.asarray(payload, dtype=np.float64).reshape(-1, 2)
        out = struct.pack(
            "<i4d", MULTIPOINT,
            pts[:, 0].min(), pts[:, 1].min(),
            pts[:, 0].max(), pts[:, 1].max(),
        ) + struct.pack("<i", len(pts)) + pts.astype("<f8").tobytes()
        return out
    else:
        raise ValueError(f"unsupported WKB type {gt}")
    allpts = np.vstack(parts)
    offs = np.cumsum([0] + [len(p) for p in parts[:-1]])
    return (
        struct.pack(
            "<i4d", stype,
            allpts[:, 0].min(), allpts[:, 1].min(),
            allpts[:, 0].max(), allpts[:, 1].max(),
        )
        + struct.pack("<2i", len(parts), len(allpts))
        + np.asarray(offs, "<i4").tobytes()
        + allpts.astype("<f8").tobytes()
    )


# ------------------------------------------------------------------
# file-level codec
# ------------------------------------------------------------------


def _main_header(total_words: int, stype: int, bbox) -> bytes:
    return (
        struct.pack(">i5i", 9994, 0, 0, 0, 0, 0)
        + struct.pack(">i", total_words)
        + struct.pack("<2i", 1000, stype)
        + struct.pack("<4d", *bbox)
        + struct.pack("<4d", 0, 0, 0, 0)
    )


def write_shp(geoms: list[bytes | None]) -> tuple[bytes, bytes]:
    """WKB list -> (.shp bytes, .shx bytes)."""
    payloads = [wkb_to_shape(g) for g in geoms]
    # bbox over non-null
    boxes = [_wkb.bbox(g) for g in geoms if g is not None]
    bx = (
        np.asarray(boxes) if boxes else np.zeros((1, 4))
    )
    bbox = (
        float(bx[:, 0].min()), float(bx[:, 1].min()),
        float(bx[:, 2].max()), float(bx[:, 3].max()),
    )
    stypes = {struct.unpack_from("<i", p, 0)[0] for p in payloads}
    stypes.discard(NULL)
    stype = stypes.pop() if len(stypes) == 1 else (
        next(iter(stypes)) if stypes else NULL
    )
    recs = bytearray()
    shx = bytearray()
    offset_words = 50  # header = 100 bytes
    for i, p in enumerate(payloads, start=1):
        clen = len(p) // 2
        shx += struct.pack(">2i", offset_words, clen)
        recs += struct.pack(">2i", i, clen) + p
        offset_words += 4 + clen
    shp = _main_header(offset_words, stype, bbox) + bytes(recs)
    shx_full = _main_header(50 + 4 * len(payloads), stype, bbox) + bytes(shx)
    return shp, shx_full


def write_dbf(pdf: pd.DataFrame) -> bytes:
    """Attribute frame -> dBase III bytes. Strings -> C, ints -> N,
    floats -> N with 6 decimals, bools -> L."""
    fields = []
    for c in pdf.columns:
        s = pdf[c]
        if s.dtype.kind in "iu":
            fields.append((c, "N", 18, 0))
        elif s.dtype.kind == "f":
            fields.append((c, "N", 24, 6))
        elif s.dtype.kind == "b":
            fields.append((c, "L", 1, 0))
        else:
            width = max(
                [1] + [len(str(v)) for v in s if v is not None]
            )
            fields.append((c, "C", min(width, 254), 0))
    rec_size = 1 + sum(f[2] for f in fields)
    hdr_size = 32 + 32 * len(fields) + 1
    out = bytearray()
    out += struct.pack(
        "<B3BIHH20x", 0x03, 99, 1, 1, len(pdf), hdr_size, rec_size
    )
    for name, typ, ln, dec in fields:
        out += struct.pack(
            "<11sc4xBB14x",
            name.encode("ascii", "replace")[:10].ljust(11, b"\x00"),
            typ.encode(), ln, dec,
        )
    out += b"\x0d"
    for i in range(len(pdf)):
        out += b" "
        for (name, typ, ln, dec) in fields:
            v = pdf[name].iloc[i]
            if typ == "C":
                s = ("" if v is None else str(v))[:ln].ljust(ln)
            elif typ == "L":
                s = ("T" if v else "F")
            elif dec:
                s = ("" if v is None else f"{float(v):.{dec}f}")[:ln].rjust(ln)
            else:
                s = ("" if v is None else str(int(v)))[:ln].rjust(ln)
            out += s.encode("ascii", "replace")
    out += b"\x1a"
    return bytes(out)


def _dbf_fields(buf: bytes) -> list[tuple[str, str, int, int]]:
    """The 32-byte field descriptors of a .dbf header → [(name, type,
    length, decimals)]."""
    fields = []
    pos = 32
    while buf[pos : pos + 1] != b"\x0d":
        if pos + 32 >= len(buf):
            raise ValueError(".dbf header has no field terminator")
        name = buf[pos : pos + 11].split(b"\x00")[0].decode("ascii")
        fields.append((name, chr(buf[pos + 11]), buf[pos + 16], buf[pos + 17]))
        pos += 32
    return fields


def _dbf_spark_type(typ: str, dec: int) -> str:
    """C→string, L→boolean, N with decimals or F→double, N without
    decimals→long, anything else→string (the raw text)."""
    if typ == "N":
        return "double" if dec else "long"
    return {"C": "string", "L": "boolean", "F": "double"}.get(typ, "string")


def read_dbf(buf: bytes) -> pd.DataFrame:
    """dBase III bytes → attribute frame, typed per field descriptor
    (:func:`_dbf_spark_type`); a blank numeric value reads as null."""
    n_rec, hdr_size, rec_size = struct.unpack_from("<IHH", buf, 4)
    fields = _dbf_fields(buf[:hdr_size])
    cols: dict[str, list] = {f[0]: [] for f in fields}
    for r in range(n_rec):
        rp = hdr_size + r * rec_size
        if buf[rp : rp + 1] == b"*":  # deleted
            continue
        fp = rp + 1
        for name, typ, ln, dec in fields:
            raw = buf[fp : fp + ln].decode("ascii", "replace")
            fp += ln
            s = raw.strip()
            kind = _dbf_spark_type(typ, dec)
            if kind == "string":
                cols[name].append(raw.rstrip())
            elif kind == "boolean":
                cols[name].append(s in ("T", "t", "Y", "y"))
            elif not s:
                cols[name].append(None)
            else:
                cols[name].append(float(s) if kind == "double" else int(s))
    return pd.DataFrame({
        name: pd.array(cols[name], dtype="Int64")
        if _dbf_spark_type(typ, dec) == "long" else cols[name]
        for name, typ, _, dec in fields
    })


def _read_dbf_head(f) -> bytes:
    """The .dbf header (fixed part + field descriptors) from an open
    file positioned at 0."""
    head = f.read(32)
    hdr_size = int.from_bytes(head[8:10], "little")
    head += f.read(max(0, hdr_size - 32))
    if len(head) < max(hdr_size, 33):
        raise ValueError(f"truncated .dbf header: {len(head)} bytes")
    return head


def _open_optional(opener, path: str):
    try:
        return opener(path)
    except FileNotFoundError:
        return None


# ------------------------------------------------------------------
# Spark source / sink
# ------------------------------------------------------------------


def _shx_records(opener, shx_path: str) -> int:
    """Record count from the .shx size alone (100-byte header + 8
    bytes per record)."""
    with opener(shx_path) as f:
        f.seek(0, 2)
        size = f.tell()
    if size < 100 or (size - 100) % 8:
        raise ValueError(f"{shx_path}: length {size} is not 100 + 8k")
    return (size - 100) // 8


def _schema(opener, path: str) -> str:
    """Spark DDL from the .dbf field descriptors (no record read)."""
    parts = ["fid long"]
    dbf = _open_optional(opener, os.path.splitext(path)[0] + ".dbf")
    if dbf is not None:
        with dbf as f:
            head = _read_dbf_head(f)
        parts += [
            f"`{name}` {_dbf_spark_type(typ, dec)}"
            for name, typ, _, dec in _dbf_fields(head)
        ]
    return ", ".join(parts + ["geometry binary"])


def read_shapefile_ranged(
    spark: SparkSession,
    path: str | list[str],
    records_per_task: int = 100_000,
    schema: str | None = None,
    opener=None,
) -> DataFrame:
    """Ranged shapefile scan over one path or a list of paths. The
    driver reads only each .shx size and the first .dbf header (the
    schema, homogeneous shards assumed); each chunk ``(file,
    first_rec, end_rec)`` is one task that seek-reads its own .shx
    slice, then its .shp and fixed-stride .dbf slices. ``opener``
    (picklable path→file-like; default shared-FS open —
    gdal_spark.io) is the object-store seam for every byte, driver
    and executors."""
    from .io import local_opener, scan_chunks

    opener = opener or local_opener
    paths = [path] if isinstance(path, str) else [str(p) for p in path]
    chunks = []
    for p in paths:
        n_rec = _shx_records(opener, os.path.splitext(p)[0] + ".shx")
        chunks += [
            (p, a, min(n_rec, a + records_per_task))
            for a in range(0, n_rec, records_per_task)
        ]
    if schema is None:
        schema = _schema(opener, paths[0])

    def read_chunk(chunk):
        p, a, z = chunk
        base = os.path.splitext(p)[0]
        with opener(base + ".shx") as f:
            f.seek(100 + 8 * a)
            raw = f.read(8 * (z - a))
        if len(raw) < 8 * (z - a):
            raise ValueError(f"{base}.shx: truncated record index")
        index = np.frombuffer(raw, ">i4").reshape(-1, 2).astype(np.int64)
        start = int(index[0, 0]) * 2
        end = int(index[-1, 0] + 4 + index[-1, 1]) * 2
        with opener(p) as f:
            f.seek(start)
            blob = f.read(max(0, end - start))
        geoms = []
        for off, clen in index:
            rel = int(off) * 2 - start
            if rel < 0 or clen < 0 or rel + 8 + 2 * clen > len(blob):
                raise ValueError(f"{p}: .shx entry outside the .shp")
            geoms.append(shape_to_wkb(blob[rel + 8 : rel + 8 + 2 * clen]))
        dbf = _open_optional(opener, base + ".dbf")
        if dbf is None:
            pdf = pd.DataFrame(index=range(z - a))
        else:
            with dbf as f:
                head = _read_dbf_head(f)
                (rec_size,) = struct.unpack_from("<H", head, 10)
                f.seek(len(head) + a * rec_size)
                recs = f.read((z - a) * rec_size)
            if len(recs) < (z - a) * rec_size:
                raise ValueError(f"{base}.dbf: truncated records")
            # patch the record count for the slice parser
            count = struct.pack("<I", z - a)
            pdf = read_dbf(head[:4] + count + head[8:] + recs)
        pdf.insert(0, "fid", range(a, z))
        pdf["geometry"] = geoms
        return pdf

    return scan_chunks(spark, chunks, read_chunk, schema)


def write_shapefile_dir(
    df: DataFrame,
    out_dir: str,
    geometry_col: str = "geometry",
) -> DataFrame:
    """Partition-parallel sink: one .shp/.shx/.dbf triple per input
    partition, manifest (path of the .shp, n_rows). Shared-FS contract
    (:func:`gdal_spark.io.write_granules`)."""
    from .io import write_granules

    attr_cols = [c for c in df.columns if c != geometry_col]

    def encode(pdf):
        shp, shx = write_shp([
            None if g is None else bytes(g) for g in pdf[geometry_col]
        ])
        return {
            ".shp": shp, ".shx": shx, ".dbf": write_dbf(pdf[attr_cols]),
        }, {}

    return write_granules(df, out_dir, geometry_col, encode)
