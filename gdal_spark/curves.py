"""Curve geometry types: CircularString / CompoundCurve /
CurvePolygon / MultiCurve / MultiSurface — WKB codec + linearization.

The reference models these as first-class OGRGeometry subclasses
(ogr/ogr_geometry.h:359+ — OGRCircularString, OGRCompoundCurve,
OGRCurvePolygon, OGRMultiCurve, OGRMultiSurface) and converts them to
linear geometry on demand via OGRGeometry::getLinearGeometry, whose
arc densification is OGRGeometryFactory::approximateArcAngles /
curveToLineString (ogr/ogrgeometryfactory.cpp) with the
OGR_ARC_STEPSIZE default of 4° per segment. Curved content arriving
from GML/GPKG/PostGIS flows through that conversion into every linear
operator.

This module does the same for the engine: ISO WKB codes 8-12 parse
and serialize here (the core `wkb` module stays the six linear
types — every operator kernel consumes LINEAR geometry only, exactly
like the reference's linear-geometry pipelines), and
:func:`linearize` densifies arcs by a maximum angular step so curved
inputs become ordinary LINESTRING/POLYGON/MULTI* WKB. The batch form
:func:`linearize_udf` is an Arrow pandas_udf usable in any select —
the GetLinearGeometry analog at DataFrame width.

Arc semantics: each CircularString triplet (p0, p1, p2) is the unique
circle arc from p0 through p1 to p2; exactly-collinear triplets
degrade to straight segments (the reference does the same). Emitted
vertices INCLUDE the exact endpoints; interior vertices sit exactly
on the circle at uniform angular steps ≤ the requested maximum.
"""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd

from . import wkb

CIRCULARSTRING = 8
COMPOUNDCURVE = 9
CURVEPOLYGON = 10
MULTICURVE = 11
MULTISURFACE = 12

DEFAULT_MAX_STEP_DEG = 4.0  # OGR_ARC_STEPSIZE default

_LE = 1


# ---------------------------------------------------------------------------
# WKB codec (codes 8-12; nested geometries carry their own headers,
# exactly as ISO 13249-3 / PostGIS serialize them)
# ---------------------------------------------------------------------------


def circularstring(coords) -> bytes:
    coords = np.asarray(coords, dtype=np.float64)
    if len(coords) < 3 or len(coords) % 2 == 0:
        raise ValueError(
            "CIRCULARSTRING needs an odd point count >= 3"
        )
    return (
        struct.pack("<BII", _LE, CIRCULARSTRING, coords.shape[0])
        + coords.astype("<f8").tobytes()
    )


def compoundcurve(parts: list[bytes]) -> bytes:
    """parts: WKB LINESTRING / CIRCULARSTRING blobs; consecutive
    parts must share endpoints (validated)."""
    prev_end = None
    for p in parts:
        t, payload = _parse(p)
        pts = np.asarray(payload)
        if prev_end is not None and not np.array_equal(
            pts[0], prev_end
        ):
            raise ValueError(
                "COMPOUNDCURVE components must share endpoints"
            )
        prev_end = pts[-1]
    return (
        struct.pack("<BII", _LE, COMPOUNDCURVE, len(parts))
        + b"".join(parts)
    )


def curvepolygon(rings: list[bytes]) -> bytes:
    """rings: WKB LINESTRING / CIRCULARSTRING / COMPOUNDCURVE blobs,
    each closed."""
    return (
        struct.pack("<BII", _LE, CURVEPOLYGON, len(rings))
        + b"".join(rings)
    )


def multicurve(curves: list[bytes]) -> bytes:
    return (
        struct.pack("<BII", _LE, MULTICURVE, len(curves))
        + b"".join(curves)
    )


def multisurface(surfaces: list[bytes]) -> bytes:
    return (
        struct.pack("<BII", _LE, MULTISURFACE, len(surfaces))
        + b"".join(surfaces)
    )


class _Rd:
    __slots__ = ("buf", "pos")

    def __init__(self, buf: bytes, pos: int = 0):
        self.buf = buf
        self.pos = pos


def _rd_geom(r: _Rd):
    order = r.buf[r.pos]
    fmt = "<" if order == 1 else ">"
    (code,) = struct.unpack_from(fmt + "I", r.buf, r.pos + 1)
    gtype, has_srid = wkb.xy_type(code)
    r.pos += 9 if has_srid else 5  # order byte, type word, EWKB SRID
    if gtype == wkb.POINT:
        xy = struct.unpack_from(fmt + "dd", r.buf, r.pos)
        r.pos += 16
        return gtype, np.array([xy])
    if gtype in (wkb.LINESTRING, CIRCULARSTRING):
        (n,) = struct.unpack_from(fmt + "I", r.buf, r.pos)
        r.pos += 4
        pts = np.frombuffer(
            r.buf, fmt + "f8", 2 * n, r.pos
        ).reshape(n, 2).astype(np.float64)
        r.pos += 16 * n
        return gtype, pts
    if gtype == wkb.POLYGON:
        (n,) = struct.unpack_from(fmt + "I", r.buf, r.pos)
        r.pos += 4
        rings = []
        for _ in range(n):
            (m,) = struct.unpack_from(fmt + "I", r.buf, r.pos)
            r.pos += 4
            rings.append(
                np.frombuffer(r.buf, fmt + "f8", 2 * m, r.pos)
                .reshape(m, 2).astype(np.float64)
            )
            r.pos += 16 * m
        return gtype, rings
    if gtype in (
        wkb.MULTIPOINT, wkb.MULTILINESTRING, wkb.MULTIPOLYGON,
        COMPOUNDCURVE, CURVEPOLYGON, MULTICURVE, MULTISURFACE,
    ):
        (n,) = struct.unpack_from(fmt + "I", r.buf, r.pos)
        r.pos += 4
        return gtype, [_rd_geom(r) for _ in range(n)]
    raise ValueError(f"unsupported WKB geometry type {code}")


def _parse(buf: bytes):
    return _rd_geom(_Rd(bytes(buf)))


def parse_curve(buf: bytes):
    """WKB (linear OR curve types) → (type, payload) tree; curve
    containers hold nested (type, payload) children."""
    return _parse(buf)


# ---------------------------------------------------------------------------
# arc densification
# ---------------------------------------------------------------------------


def _arc_points(
    p0, p1, p2, max_step_rad: float
) -> np.ndarray:
    """Points of the circular arc p0→p1→p2, INCLUDING p0, EXCLUDING
    the exact endpoint p2 (caller appends). Exactly-collinear →
    the two straight segments' start vertices."""
    ax, ay = p0
    bx, by = p1
    cx, cy = p2
    if ax == cx and ay == cy:
        # closed triplet = FULL CIRCLE with p1 antipodal (the
        # reference's CIRCULARSTRING(p, q, p) convention)
        ux, uy = (ax + bx) / 2.0, (ay + by) / 2.0
        r = float(np.hypot(ax - ux, ay - uy))
        a0 = np.arctan2(ay - uy, ax - ux)
        n = max(2, int(np.ceil(2.0 * np.pi / max_step_rad)))
        ang = a0 + 2.0 * np.pi * np.arange(n) / n
        pts = np.column_stack(
            [ux + r * np.cos(ang), uy + r * np.sin(ang)]
        )
        pts[0] = (ax, ay)
        return pts
    d = 2.0 * (
        (ax - cx) * (by - cy) - (bx - cx) * (ay - cy)
    )
    if d == 0.0:
        return np.array([p0, p1])
    ux = (
        ((ax * ax + ay * ay) - (cx * cx + cy * cy)) * (by - cy)
        - ((bx * bx + by * by) - (cx * cx + cy * cy)) * (ay - cy)
    ) / d
    uy = (
        ((bx * bx + by * by) - (cx * cx + cy * cy)) * (ax - cx)
        - ((ax * ax + ay * ay) - (cx * cx + cy * cy)) * (bx - cx)
    ) / d
    r = float(np.hypot(ax - ux, ay - uy))
    a0 = np.arctan2(ay - uy, ax - ux)
    a1 = np.arctan2(by - uy, bx - ux)
    a2 = np.arctan2(cy - uy, cx - ux)
    ccw = (bx - ax) * (cy - by) - (by - ay) * (cx - bx) > 0
    two_pi = 2.0 * np.pi

    def fwd(s, e):
        t = (e - s) if ccw else (s - e)
        t %= two_pi
        return t

    total = fwd(a0, a1) + fwd(a1, a2)
    if total == 0.0:
        total = two_pi  # p0 == p2 through p1: a full circle
    n = max(2, int(np.ceil(total / max_step_rad)))
    sign = 1.0 if ccw else -1.0
    ang = a0 + sign * total * np.arange(n) / n
    pts = np.column_stack([ux + r * np.cos(ang), uy + r * np.sin(ang)])
    pts[0] = (ax, ay)  # exact start
    return pts


def _linearize_curve_pts(
    gtype: int, payload, max_step_rad: float
) -> np.ndarray:
    """CIRCULARSTRING/LINESTRING payload (or COMPOUNDCURVE children)
    → densified vertex array with exact endpoints."""
    if gtype == wkb.LINESTRING:
        return np.asarray(payload, dtype=np.float64)
    if gtype == CIRCULARSTRING:
        pts = np.asarray(payload, dtype=np.float64)
        out = []
        for i in range(0, len(pts) - 2, 2):
            out.append(
                _arc_points(
                    pts[i], pts[i + 1], pts[i + 2], max_step_rad
                )
            )
        out.append(pts[-1:])
        return np.vstack(out)
    if gtype == COMPOUNDCURVE:
        segs = [
            _linearize_curve_pts(t, pl, max_step_rad)
            for t, pl in payload
        ]
        out = [segs[0]]
        for s in segs[1:]:
            out.append(s[1:])  # shared endpoint emitted once
        return np.vstack(out)
    raise ValueError(f"not a curve/line type: {gtype}")


def linearize(
    buf: bytes, max_step_deg: float = DEFAULT_MAX_STEP_DEG
) -> bytes:
    """Any WKB (curve or linear) → LINEAR WKB
    (OGRGeometry::getLinearGeometry analog; arcs densified at ≤
    ``max_step_deg`` per segment, endpoints exact). Linear input
    passes through byte-identical."""
    gtype, payload = _parse(buf)
    if gtype in (
        wkb.POINT, wkb.LINESTRING, wkb.POLYGON, wkb.MULTIPOINT,
        wkb.MULTILINESTRING, wkb.MULTIPOLYGON,
    ):
        return bytes(buf)
    step = np.radians(max_step_deg)
    if gtype in (CIRCULARSTRING, COMPOUNDCURVE):
        return wkb.linestring(
            _linearize_curve_pts(gtype, payload, step)
        )
    if gtype == CURVEPOLYGON:
        rings = [
            _linearize_curve_pts(t, pl, step) for t, pl in payload
        ]
        return wkb.polygon(rings)
    if gtype == MULTICURVE:
        return wkb.multilinestring(
            [_linearize_curve_pts(t, pl, step) for t, pl in payload]
        )
    if gtype == MULTISURFACE:
        polys = []
        for t, pl in payload:
            if t == wkb.POLYGON:
                polys.append(pl)
            elif t == CURVEPOLYGON:
                polys.append(
                    [
                        _linearize_curve_pts(rt, rpl, step)
                        for rt, rpl in pl
                    ]
                )
            else:
                raise ValueError(
                    f"MULTISURFACE member type {t} unsupported"
                )
        return wkb.multipolygon(polys)
    raise ValueError(f"unsupported geometry type {gtype}")


def linearize_udf(max_step_deg: float = DEFAULT_MAX_STEP_DEG):
    """Arrow-batched pandas_udf binary→binary: getLinearGeometry at
    DataFrame width — put curved columns through it once, then every
    linear operator applies."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("binary")
    def u(s: pd.Series) -> pd.Series:
        return s.map(
            lambda b: None if b is None
            else linearize(bytes(b), max_step_deg)
        )

    return u


# ---------------------------------------------------------------------------
# curve WKT (ST_AsText / ST_GeomFromText for the curve types — OGR's
# exportToWkt/importFromWkt curve grammar, ogr/ogrcircularstring.cpp etc.)
# ---------------------------------------------------------------------------


def _coords_wkt(pts) -> str:
    return ", ".join(
        f"{wkb._fmt(x)} {wkb._fmt(y)}" for x, y in np.asarray(pts)
    )


def _member_wkt(t: int, payload) -> str:
    """WKT for a curve-container member, bare-parenthesized when it is
    a plain linestring/ring (the OGR grammar)."""
    if t == wkb.LINESTRING:
        return f"({_coords_wkt(payload)})"
    if t == CIRCULARSTRING:
        return f"CIRCULARSTRING ({_coords_wkt(payload)})"
    if t == COMPOUNDCURVE:
        inner = ", ".join(_member_wkt(ct, cp) for ct, cp in payload)
        return f"COMPOUNDCURVE ({inner})"
    if t == wkb.POLYGON:
        inner = ", ".join(f"({_coords_wkt(r)})" for r in payload)
        return f"({inner})"
    if t == CURVEPOLYGON:
        inner = ", ".join(_member_wkt(rt, rp) for rt, rp in payload)
        return f"CURVEPOLYGON ({inner})"
    raise ValueError(f"unsupported member type {t}")


def wkt(buf: bytes) -> str:
    """Curve-aware ST_AsText: falls through to the linear writer for
    the six simple types."""
    t, payload = _parse(buf)
    if t == CIRCULARSTRING:
        return f"CIRCULARSTRING ({_coords_wkt(payload)})"
    if t == COMPOUNDCURVE:
        inner = ", ".join(_member_wkt(ct, cp) for ct, cp in payload)
        return f"COMPOUNDCURVE ({inner})"
    if t == CURVEPOLYGON:
        inner = ", ".join(_member_wkt(rt, rp) for rt, rp in payload)
        return f"CURVEPOLYGON ({inner})"
    if t == MULTICURVE:
        inner = ", ".join(_member_wkt(ct, cp) for ct, cp in payload)
        return f"MULTICURVE ({inner})"
    if t == MULTISURFACE:
        inner = ", ".join(
            _member_wkt(st, sp) if st == CURVEPOLYGON
            else "(" + ", ".join(
                f"({_coords_wkt(r)})" for r in sp
            ) + ")"
            for st, sp in payload
        )
        return f"MULTISURFACE ({inner})"
    return wkb.wkt(buf)


def _split_members(s: str) -> list[str]:
    """Split 'A (…), B (…)' at top-level commas, keeping any leading
    keyword with its group."""
    out, depth, start = [], 0, 0
    for i, ch in enumerate(s):
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "," and depth == 0:
            out.append(s[start:i].strip())
            start = i + 1
    tail = s[start:].strip()
    if tail:
        out.append(tail)
    return out


def _member_from_wkt(s: str) -> bytes:
    s = s.strip()
    u = s.upper()
    if u.startswith("CIRCULARSTRING"):
        body = s[s.index("(") + 1: s.rindex(")")]
        return circularstring(wkb._parse_coord_seq(body))
    if u.startswith("COMPOUNDCURVE"):
        body = s[s.index("(") + 1: s.rindex(")")]
        return compoundcurve(
            [_member_from_wkt(m) for m in _split_members(body)]
        )
    if u.startswith("CURVEPOLYGON"):
        body = s[s.index("(") + 1: s.rindex(")")]
        return curvepolygon(
            [_member_from_wkt(m) for m in _split_members(body)]
        )
    if s.startswith("("):
        # bare group: a linestring/ring (possibly a polygon ring list
        # inside MULTISURFACE — the caller disambiguates)
        inner = s[1:-1].strip()
        if inner.startswith("("):
            rings = [
                wkb._parse_coord_seq(g)
                for g in wkb._split_groups(inner)
            ]
            return wkb.polygon(rings)
        return wkb.linestring(wkb._parse_coord_seq(inner))
    raise ValueError(f"cannot parse curve member {s[:40]!r}")


def from_wkt(text: str) -> bytes:
    """Curve-aware ST_GeomFromText: CIRCULARSTRING / COMPOUNDCURVE /
    CURVEPOLYGON / MULTICURVE / MULTISURFACE, else delegates to the
    linear parser."""
    s = text.strip()
    u = s.upper()
    for kw, ctor in (
        ("CIRCULARSTRING", None), ("COMPOUNDCURVE", None),
        ("CURVEPOLYGON", None),
    ):
        if u.startswith(kw):
            return _member_from_wkt(s)
    if u.startswith("MULTICURVE"):
        body = s[s.index("(") + 1: s.rindex(")")]
        return multicurve(
            [_member_from_wkt(m) for m in _split_members(body)]
        )
    if u.startswith("MULTISURFACE"):
        body = s[s.index("(") + 1: s.rindex(")")]
        return multisurface(
            [_member_from_wkt(m) for m in _split_members(body)]
        )
    return wkb.from_wkt(text)
