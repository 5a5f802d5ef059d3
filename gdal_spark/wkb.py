"""Minimal WKB encode/decode (little-endian, 2-D).

The reference's Arrow export carries geometry as WKB binary
(ogr/ogrsf_frmts/generic/ogrlayerarrow.cpp geometry columns); the
engine adopts the same at-rest representation: geometry is a
``BinaryType`` column, decoded to numpy coordinate arrays inside
vectorized UDFs.  Supports the types the north rule needs: Point,
LineString, Polygon (with holes), MultiPoint, MultiLineString,
MultiPolygon.  No shapely dependency.  Every decoder reads the type
word through :func:`type_word`; Z and M geometries raise
``ValueError`` (:func:`xy_type`).
"""

from __future__ import annotations

import functools
import struct

import numpy as np

POINT = 1
LINESTRING = 2
POLYGON = 3
MULTIPOINT = 4
MULTILINESTRING = 5
MULTIPOLYGON = 6

_LE = 1


def point(x: float, y: float) -> bytes:
    return struct.pack("<BIdd", _LE, POINT, x, y)


def linestring(coords) -> bytes:
    coords = np.asarray(coords, dtype=np.float64)
    return (
        struct.pack("<BII", _LE, LINESTRING, coords.shape[0])
        + coords.astype("<f8").tobytes()
    )


def polygon(rings) -> bytes:
    """rings: list of (M, 2) arrays; first = outer, rest = holes."""
    out = [struct.pack("<BII", _LE, POLYGON, len(rings))]
    for ring in rings:
        ring = np.asarray(ring, dtype=np.float64)
        if not (ring[0] == ring[-1]).all():
            ring = np.vstack([ring, ring[:1]])
        out.append(struct.pack("<I", ring.shape[0]))
        out.append(ring.astype("<f8").tobytes())
    return b"".join(out)


def multipolygon(polys) -> bytes:
    """polys: list of ring-lists."""
    out = [struct.pack("<BII", _LE, MULTIPOLYGON, len(polys))]
    for rings in polys:
        out.append(polygon(rings))
    return b"".join(out)


def multipoint(coords) -> bytes:
    coords = np.asarray(coords, dtype=np.float64)
    out = [struct.pack("<BII", _LE, MULTIPOINT, coords.shape[0])]
    for x, y in coords:
        out.append(point(float(x), float(y)))
    return b"".join(out)


def multilinestring(lines) -> bytes:
    """lines: list of (M, 2) arrays."""
    out = [struct.pack("<BII", _LE, MULTILINESTRING, len(lines))]
    for ln in lines:
        out.append(linestring(ln))
    return b"".join(out)


class _Reader:
    __slots__ = ("buf", "pos")

    def __init__(self, buf: bytes):
        self.buf = buf
        self.pos = 0

    def u8(self) -> int:
        v = self.buf[self.pos]
        self.pos += 1
        return v

    def u32(self, fmt: str) -> int:
        v = struct.unpack_from(fmt + "I", self.buf, self.pos)[0]
        self.pos += 4
        return v

    def coords(self, n: int, fmt: str) -> np.ndarray:
        arr = np.frombuffer(
            self.buf, dtype=(fmt + "f8"), count=2 * n, offset=self.pos
        ).reshape(n, 2)
        self.pos += 16 * n
        return np.asarray(arr, dtype=np.float64)


def type_word(code: int) -> tuple[int, bool, bool, bool]:
    """Split a WKB type word into ``(base, has_z, has_m, has_srid)``:
    the ISO offsets 1000 (Z), 2000 (M) and 3000 (ZM), and the EWKB
    flags 0x80000000 (Z), 0x40000000 (M) and 0x20000000 (SRID)."""
    iso, base = divmod(code & 0x1FFFFFFF, 1000)
    if iso > 3:
        raise ValueError(f"invalid WKB type word {code} ({code:#010x})")
    return (
        base,
        bool(code & 0x80000000) or iso in (1, 3),
        bool(code & 0x40000000) or iso in (2, 3),
        bool(code & 0x20000000),
    )


@functools.cache  # once per geometry; at most 2000 words are valid
def xy_type(code: int) -> tuple[int, bool]:
    """``(base, has_srid)`` of a 2-D type word. Z and M words raise
    ``ValueError``: the engine's coordinates are XY only, and reading
    them as XY would shift every later coordinate."""
    base, has_z, has_m, has_srid = type_word(code)
    if has_z or has_m:
        raise ValueError(
            f"unsupported WKB type word {code} ({code:#010x}): "
            "Z/M coordinates"
        )
    return base, has_srid


def parse(buf: bytes):
    """Parse WKB → (type_code, payload).

    Point       → (POINT, (x, y))
    LineString  → (LINESTRING, (M,2) array)
    Polygon     → (POLYGON, [rings])
    Multi*      → (type, [payloads])
    """
    r = _Reader(bytes(buf))
    return _parse_geom(r)


def _parse_geom(r: _Reader):
    byte_order = r.u8()
    fmt = "<" if byte_order == 1 else ">"
    code = r.u32(fmt)
    gtype, has_srid = xy_type(code)
    if has_srid:
        # EWKB SRID flag (PostGIS): a 4-byte SRID follows the type
        # word before any coordinates — consume it, else the SRID
        # bytes would be read as the first coordinate.
        r.u32(fmt)
    if gtype == POINT:
        x, y = struct.unpack_from(fmt + "dd", r.buf, r.pos)
        r.pos += 16
        return POINT, (x, y)
    if gtype == LINESTRING:
        n = r.u32(fmt)
        return LINESTRING, r.coords(n, fmt)
    if gtype == POLYGON:
        nrings = r.u32(fmt)
        rings = []
        for _ in range(nrings):
            n = r.u32(fmt)
            rings.append(r.coords(n, fmt))
        return POLYGON, rings
    if gtype in (MULTIPOINT, MULTILINESTRING, MULTIPOLYGON):
        n = r.u32(fmt)
        parts = [_parse_geom(r)[1] for _ in range(n)]
        return gtype, parts
    raise ValueError(f"unsupported WKB geometry type {code}")


def bbox(buf: bytes) -> tuple[float, float, float, float]:
    """(xmin, ymin, xmax, ymax) of any supported WKB geometry."""
    gtype, payload = parse(buf)
    if gtype == POINT:
        x, y = payload
        return x, y, x, y
    if gtype in (LINESTRING, MULTIPOINT):
        a = np.asarray(payload, dtype=np.float64)
    elif gtype in (POLYGON, MULTILINESTRING):
        a = np.vstack(payload)
    else:  # MULTIPOLYGON
        a = np.vstack([r for rings in payload for r in rings])
    return (
        float(a[:, 0].min()), float(a[:, 1].min()),
        float(a[:, 0].max()), float(a[:, 1].max()),
    )


def polygon_rings(buf: bytes) -> list[list[np.ndarray]]:
    """Any polygonal WKB → list of polygons, each a list of rings.
    Point/LineString inputs raise."""
    gtype, payload = parse(buf)
    if gtype == POLYGON:
        return [payload]
    if gtype == MULTIPOLYGON:
        return payload
    raise ValueError(f"not a polygonal geometry: type {gtype}")


def wkt(buf: bytes) -> str:
    """WKB → WKT (ST_AsText analog, ogrsqlitesqlfunctions.cpp:723)."""
    gtype, payload = parse(buf)
    if gtype == POINT:
        return f"POINT ({_fmt(payload[0])} {_fmt(payload[1])})"
    if gtype == LINESTRING:
        return f"LINESTRING ({_ring_wkt(payload)})"
    if gtype == POLYGON:
        inner = ", ".join(f"({_ring_wkt(ring)})" for ring in payload)
        return f"POLYGON ({inner})"
    if gtype == MULTIPOLYGON:
        polys = ", ".join(
            "(" + ", ".join(f"({_ring_wkt(ring)})" for ring in rings) + ")"
            for rings in payload
        )
        return f"MULTIPOLYGON ({polys})"
    raise ValueError(f"unsupported type {gtype}")


def _fmt(v: float) -> str:
    return repr(float(v)) if v != int(v) else str(int(v))


def _ring_wkt(ring: np.ndarray) -> str:
    return ", ".join(f"{_fmt(x)} {_fmt(y)}" for x, y in np.asarray(ring))


def _parse_coord_seq(s: str) -> np.ndarray:
    pts = []
    for pair in s.split(","):
        xy = pair.split()
        pts.append((float(xy[0]), float(xy[1])))
    return np.asarray(pts, dtype=np.float64)


def _split_groups(s: str) -> list[str]:
    """Split 'a, b' at top-level commas where a/b are '(...)' groups."""
    out, depth, start = [], 0, None
    for i, ch in enumerate(s):
        if ch == "(":
            if depth == 0:
                start = i + 1
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                out.append(s[start:i])
    return out


def from_wkt(text: str) -> bytes:
    """WKT → WKB (ST_GeomFromText analog,
    ogrsqlitesqlfunctions.cpp:779). POINT / LINESTRING / POLYGON /
    MULTIPOLYGON, matching the writer above."""
    s = text.strip()
    head = s.split("(", 1)[0].strip().upper()
    body = s[s.index("(") :] if "(" in s else ""
    if head == "POINT":
        c = _parse_coord_seq(body.strip()[1:-1])
        return point(float(c[0, 0]), float(c[0, 1]))
    if head == "LINESTRING":
        return linestring(_parse_coord_seq(body.strip()[1:-1]))
    if head == "POLYGON":
        rings = [_parse_coord_seq(g) for g in _split_groups(body[1:-1])]
        return polygon(rings)
    if head == "MULTIPOLYGON":
        inner = body.strip()[1:-1]
        polys = []
        depth = 0
        start = None
        # top-level groups are '((...),(...))' per polygon
        for i, ch in enumerate(inner):
            if ch == "(":
                if depth == 0:
                    start = i
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth == 0:
                    grp = inner[start : i + 1]
                    polys.append(
                        [_parse_coord_seq(g) for g in _split_groups(grp[1:-1])]
                    )
        return multipolygon(polys)
    raise ValueError(f"unsupported WKT type {head!r}")
