"""Pure-python/numpy WKB (well-known binary) kernel.

The reference keeps geometry as WKB bytes in a binary Arrow column and
upcasts/downcasts via DuckDB-spatial (reference: core/stream_io.py:95-97,
core/add_bbox_column.py:70-76).  This container has no shapely/GEOS, so
the kernel here implements the subset of OGC WKB the reference exercises:
2-D Point / LineString / Polygon / MultiPoint / MultiLineString /
MultiPolygon, both byte orders on read, little-endian on write.

Everything is written to be called from Arrow-batched pandas UDFs —
per-batch python loops over rows, numpy for per-coordinate math.
"""

from __future__ import annotations

import math
import struct
from typing import Iterable

import numpy as np

from geoparquet_io_spark.meta import VALID_GEOMETRY_TYPES

POINT, LINESTRING, POLYGON = 1, 2, 3
MULTIPOINT, MULTILINESTRING, MULTIPOLYGON = 4, 5, 6
GEOMETRYCOLLECTION = 7

TYPE_NAMES = {
    POINT: "POINT",
    LINESTRING: "LINESTRING",
    POLYGON: "POLYGON",
    MULTIPOINT: "MULTIPOINT",
    MULTILINESTRING: "MULTILINESTRING",
    MULTIPOLYGON: "MULTIPOLYGON",
    GEOMETRYCOLLECTION: "GEOMETRYCOLLECTION",
}
#: the GeoParquet ``geometry_types`` spelling of each type code
GEOPARQUET_NAMES = {c: n for n in VALID_GEOMETRY_TYPES
                    for c, u in TYPE_NAMES.items() if n.upper() == u}

_PT_LE = struct.Struct("<2d")


# ---------------------------------------------------------------------------
# Encoding
# ---------------------------------------------------------------------------

def encode_point(x: float, y: float) -> bytes:
    return b"\x01\x01\x00\x00\x00" + _PT_LE.pack(x, y)


def encode_linestring(coords: np.ndarray) -> bytes:
    coords = np.asarray(coords, dtype="<f8").reshape(-1, 2)
    return (
        b"\x01\x02\x00\x00\x00"
        + struct.pack("<I", len(coords))
        + coords.tobytes()
    )


def encode_polygon(rings: Iterable[np.ndarray]) -> bytes:
    rings = [np.asarray(r, dtype="<f8").reshape(-1, 2) for r in rings]
    out = [b"\x01\x03\x00\x00\x00", struct.pack("<I", len(rings))]
    for r in rings:
        out.append(struct.pack("<I", len(r)))
        out.append(r.tobytes())
    return b"".join(out)


def encode_box_polygon(xmin: float, ymin: float, xmax: float, ymax: float) -> bytes:
    ring = np.array(
        [[xmin, ymin], [xmax, ymin], [xmax, ymax], [xmin, ymax], [xmin, ymin]],
        dtype="<f8",
    )
    return encode_polygon([ring])


def encode_multipolygon(polys: Iterable[Iterable[np.ndarray]]) -> bytes:
    polys = list(polys)
    out = [b"\x01\x06\x00\x00\x00", struct.pack("<I", len(polys))]
    for rings in polys:
        out.append(encode_polygon(rings))
    return b"".join(out)


# ---------------------------------------------------------------------------
# Decoding
# ---------------------------------------------------------------------------

class Geom:
    """Parsed geometry: ``gtype`` plus parts.

    parts layout:
      POINT            -> [array (1,2)]
      LINESTRING       -> [array (n,2)]
      POLYGON          -> [array (n,2), ...]     one per ring (first = shell)
      MULTI*/COLLECTION-> flattened children in ``children`` instead
    """

    __slots__ = ("gtype", "parts", "children")

    def __init__(self, gtype: int, parts=None, children=None):
        self.gtype = gtype
        self.parts = parts or []
        self.children = children or []

    @property
    def type_name(self) -> str:
        return TYPE_NAMES[self.gtype]

    def rings(self):
        """All coordinate arrays of this geometry (flattened)."""
        if self.children:
            for c in self.children:
                yield from c.rings()
        else:
            yield from self.parts

    def shells(self):
        """Outer rings only (for polygon containment tests)."""
        if self.children:
            for c in self.children:
                yield from c.shells()
        elif self.gtype == POLYGON and self.parts:
            yield self.parts[0]

    def holes(self):
        if self.children:
            for c in self.children:
                yield from c.holes()
        elif self.gtype == POLYGON:
            yield from self.parts[1:]


def parse(buf: bytes) -> Geom:
    geom, _ = _parse_at(memoryview(buf), 0)
    return geom


def header_at(mv, off: int = 0) -> tuple[str, int, int]:
    """The WKB header at ``off``: ``(struct byte-order prefix, base
    type code, offset of the body)``.  The type is decided by the first
    5 bytes alone.  Raises ValueError for Z/M coordinates (EWKB or ISO)
    and for a type outside :data:`TYPE_NAMES`."""
    fmt = "<" if mv[off] == 1 else ">"
    (gtype,) = struct.unpack_from(fmt + "I", mv, off + 1)
    if gtype & 0xC0000000 or 1000 < gtype < 0x20000000:
        # EWKB Z (0x80000000) / M (0x40000000) flags, or an ISO Z/M/ZM
        # code (1001+): coords are 3-/4-wide — reading them as 2-D
        # would silently interleave garbage
        raise ValueError("only 2-D WKB supported")
    # strip the EWKB SRID flag (0x20000000): keep the base type
    base = gtype & 0xFF
    has_srid = bool(gtype & 0x20000000)
    if base not in TYPE_NAMES:
        raise ValueError(f"unsupported WKB geometry type {gtype}")
    return fmt, base, off + (9 if has_srid else 5)


def _parse_at(mv: memoryview, off: int):
    fmt, base, off = header_at(mv, off)
    dt = np.dtype(fmt + "f8")
    if base == POINT:
        arr = np.frombuffer(mv, dtype=dt, count=2, offset=off).reshape(1, 2)
        return Geom(POINT, [arr.astype("f8")]), off + 16
    if base == LINESTRING:
        (n,) = struct.unpack_from(fmt + "I", mv, off)
        off += 4
        arr = np.frombuffer(mv, dtype=dt, count=2 * n, offset=off).reshape(n, 2)
        return Geom(LINESTRING, [arr.astype("f8")]), off + 16 * n
    if base == POLYGON:
        (nr,) = struct.unpack_from(fmt + "I", mv, off)
        off += 4
        rings = []
        for _ in range(nr):
            (n,) = struct.unpack_from(fmt + "I", mv, off)
            off += 4
            arr = np.frombuffer(mv, dtype=dt, count=2 * n, offset=off).reshape(n, 2)
            rings.append(arr.astype("f8"))
            off += 16 * n
        return Geom(POLYGON, rings), off
    if base in (MULTIPOINT, MULTILINESTRING, MULTIPOLYGON, GEOMETRYCOLLECTION):
        (n,) = struct.unpack_from(fmt + "I", mv, off)
        off += 4
        children = []
        for _ in range(n):
            child, off = _parse_at(mv, off)
            children.append(child)
        return Geom(base, children=children), off


# ---------------------------------------------------------------------------
# Per-geometry computations (the function layer batches these)
# ---------------------------------------------------------------------------

def envelope(buf: bytes):
    """(xmin, ymin, xmax, ymax) of a WKB geometry."""
    return geom_envelope(parse(buf))


def geom_envelope(g: Geom):
    """(xmin, ymin, xmax, ymax) of a parsed geometry.  A ring with a NaN
    vertex adds no bounds; with none left, all four are NaN (EMPTY)."""
    xmin = ymin = math.inf
    xmax = ymax = -math.inf
    has_points = False
    for arr in g.rings():
        if len(arr) == 0:
            continue
        x0, x1 = float(arr[:, 0].min()), float(arr[:, 0].max())
        y0, y1 = float(arr[:, 1].min()), float(arr[:, 1].max())
        if x0 != x0 or y0 != y0:
            # ring contains a NaN vertex (e.g. POINT EMPTY's NaN,NaN
            # encoding): contributes no bounds — previously min(inf,
            # NaN) silently kept inf per component, same net effect
            continue
        has_points = True
        xmin = min(xmin, x0)
        xmax = max(xmax, x1)
        ymin = min(ymin, y0)
        ymax = max(ymax, y1)
    if not has_points:
        # explicit flag, NOT `xmin is math.inf`: a geometry whose x
        # coordinates are literally +inf makes min() return the same
        # math.inf singleton and the identity sentinel misfired,
        # nulling the bounds of a real row
        return (math.nan, math.nan, math.nan, math.nan)
    return (xmin, ymin, xmax, ymax)


def point_xy(buf: bytes):
    g = parse(buf)
    if g.gtype != POINT:
        raise ValueError(f"ST_X/ST_Y expects POINT, got {g.type_name}")
    return float(g.parts[0][0, 0]), float(g.parts[0][0, 1])


def _ring_area_centroid(ring: np.ndarray):
    """Signed area and area-weighted centroid of one ring (shoelace)."""
    x, y = ring[:, 0], ring[:, 1]
    x1, y1 = np.roll(x, -1), np.roll(y, -1)
    cross = x * y1 - x1 * y
    a = cross.sum() / 2.0
    if a == 0.0:
        return 0.0, ring[:, 0].mean(), ring[:, 1].mean()
    cx = ((x + x1) * cross).sum() / (6.0 * a)
    cy = ((y + y1) * cross).sum() / (6.0 * a)
    return a, cx, cy


def centroid(buf: bytes):
    """(x, y) centroid: area centroid for polygons, length-weighted for
    lines, mean for points — matching PostGIS/DuckDB ST_Centroid semantics
    closely enough for bbox-midpoint / ordering purposes."""
    g = parse(buf)
    if g.gtype == POINT:
        return float(g.parts[0][0, 0]), float(g.parts[0][0, 1])
    if g.gtype in (POLYGON, MULTIPOLYGON):
        tot_a = 0.0
        sx = sy = 0.0
        if g.gtype == POLYGON:
            polys = [g]
        else:
            polys = g.children
        for poly in polys:
            for i, ring in enumerate(poly.parts):
                a, cx, cy = _ring_area_centroid(ring)
                a = abs(a) if i == 0 else -abs(a)
                tot_a += a
                sx += cx * a
                sy += cy * a
        if tot_a != 0:
            return sx / tot_a, sy / tot_a
    # lines / degenerate: length-weighted midpoint
    tot_l = 0.0
    sx = sy = 0.0
    for arr in g.rings():
        if len(arr) < 2:
            if len(arr) == 1:
                # weight the coordinate like every other term: an
                # unweighted sum over the 1e-300 total exploded by 1e300
                sx += arr[0, 0] * 1e-300
                sy += arr[0, 1] * 1e-300
                tot_l += 1e-300
            continue
        seg = np.diff(arr, axis=0)
        lengths = np.hypot(seg[:, 0], seg[:, 1])
        mids = (arr[:-1] + arr[1:]) / 2.0
        tot_l += lengths.sum()
        sx += (mids[:, 0] * lengths).sum()
        sy += (mids[:, 1] * lengths).sum()
    if tot_l == 0:
        arrs = [a for a in g.rings() if len(a)]
        if not arrs:
            # EMPTY geometry: NaN (maskable to NULL downstream), not a
            # fabricated real-looking Null-Island (0, 0) centroid
            return (math.nan, math.nan)
        all_pts = np.vstack(arrs)
        return float(all_pts[:, 0].mean()), float(all_pts[:, 1].mean())
    return float(sx / tot_l), float(sy / tot_l)


def _point_in_ring(px: float, py: float, ring: np.ndarray) -> bool:
    """Ray casting; boundary counts as inside (sufficient for intersects)."""
    x, y = ring[:, 0], ring[:, 1]
    x1, y1 = np.roll(x, -1), np.roll(y, -1)
    # boundary check: point on a NON-degenerate segment (the closing
    # roll segment last->first has zero length when the ring is closed)
    dx, dy = x1 - x, y1 - y
    cross = (px - x) * dy - (py - y) * dx
    dot = (px - x) * dx + (py - y) * dy
    seg_len2 = dx * dx + dy * dy
    on = (seg_len2 > 0) & (np.abs(cross) < 1e-12) & (dot >= 0) & (dot <= seg_len2)
    if on.any():
        return True
    if ((px - x) ** 2 + (py - y) ** 2 == 0).any():  # exactly on a vertex
        return True
    cond = ((y > py) != (y1 > py))
    with np.errstate(divide="ignore", invalid="ignore"):
        xints = np.where(cond, (py - y) * (x1 - x) / np.where(y1 - y == 0, 1, y1 - y) + x, np.nan)
    return bool((cond & (px < xints)).sum() % 2 == 1)


def _point_in_polygon(px: float, py: float, poly: Geom) -> bool:
    if not poly.parts:
        return False
    if not _point_in_ring(px, py, poly.parts[0]):
        return False
    for hole in poly.parts[1:]:
        # strictly inside a hole -> outside (on hole boundary still inside)
        if _point_in_ring(px, py, hole) and not _on_ring_boundary(px, py, hole):
            return False
    return True


def _points_in_ring_bulk(px: np.ndarray, py: np.ndarray,
                         ring: np.ndarray) -> np.ndarray:
    """:func:`_point_in_ring` over ARRAYS of points at once (one
    points x segments broadcast instead of a python call per point).
    Same arithmetic per element, so the result is bit-identical to the
    scalar loop — pinned by test_wkb bulk-parity tests."""
    x, y = ring[:, 0], ring[:, 1]
    x1, y1 = np.roll(x, -1), np.roll(y, -1)
    dx, dy = x1 - x, y1 - y
    seg_len2 = dx * dx + dy * dy
    PX, PY = px[:, None], py[:, None]
    cross = (PX - x) * dy - (PY - y) * dx
    dot = (PX - x) * dx + (PY - y) * dy
    on = ((seg_len2 > 0) & (np.abs(cross) < 1e-12)
          & (dot >= 0) & (dot <= seg_len2)).any(axis=1)
    on |= (((PX - x) ** 2 + (PY - y) ** 2) == 0).any(axis=1)
    cond = (y > PY) != (y1 > PY)
    with np.errstate(divide="ignore", invalid="ignore"):
        xints = (PY - y) * (x1 - x) / np.where(y1 - y == 0, 1, y1 - y) + x
    inside = ((cond & (PX < xints)).sum(axis=1) % 2) == 1
    return on | inside


def _on_ring_boundary_bulk(px: np.ndarray, py: np.ndarray,
                           ring: np.ndarray) -> np.ndarray:
    """:func:`_on_ring_boundary` over arrays of points (bit-identical)."""
    x, y = ring[:, 0], ring[:, 1]
    x1, y1 = np.roll(x, -1), np.roll(y, -1)
    dx, dy = x1 - x, y1 - y
    PX, PY = px[:, None], py[:, None]
    cross = (PX - x) * dy - (PY - y) * dx
    dot = (PX - x) * dx + (PY - y) * dy
    seg_len2 = dx * dx + dy * dy
    on_vertex = (((PX - x) ** 2 + (PY - y) ** 2) == 0).any(axis=1)
    on_seg = ((seg_len2 > 0) & (np.abs(cross) < 1e-12)
              & (dot >= 0) & (dot <= seg_len2)).any(axis=1)
    return on_vertex | on_seg


def _points_in_polygon_bulk(px: np.ndarray, py: np.ndarray,
                            poly: Geom) -> np.ndarray:
    """:func:`_point_in_polygon` over arrays of points (bit-identical)."""
    if not poly.parts:
        return np.zeros(len(px), dtype=bool)
    res = _points_in_ring_bulk(px, py, poly.parts[0])
    for hole in poly.parts[1:]:
        if not res.any():
            break
        in_hole = _points_in_ring_bulk(px, py, hole) \
            & ~_on_ring_boundary_bulk(px, py, hole)
        res &= ~in_hole
    return res


def _on_ring_boundary(px: float, py: float, ring: np.ndarray) -> bool:
    x, y = ring[:, 0], ring[:, 1]
    x1, y1 = np.roll(x, -1), np.roll(y, -1)
    dx, dy = x1 - x, y1 - y
    cross = (px - x) * dy - (py - y) * dx
    dot = (px - x) * dx + (py - y) * dy
    seg_len2 = dx * dx + dy * dy
    on_vertex = ((px - x) ** 2 + (py - y) ** 2 == 0).any()
    return bool(on_vertex) or bool(
        ((seg_len2 > 0) & (np.abs(cross) < 1e-12) & (dot >= 0) & (dot <= seg_len2)).any()
    )


def _segments(arr: np.ndarray):
    return arr[:-1], arr[1:]


def _segments_intersect(a0, a1, b0, b1) -> bool:
    """Any segment of polyline A (a0->a1 pairs) intersects any of B."""
    # vectorized orientation tests over the cartesian product
    def cross(ox, oy, ax, ay, bx, by):
        return (ax - ox) * (by - oy) - (ay - oy) * (bx - ox)

    a0x, a0y = a0[:, 0][:, None], a0[:, 1][:, None]
    a1x, a1y = a1[:, 0][:, None], a1[:, 1][:, None]
    b0x, b0y = b0[:, 0][None, :], b0[:, 1][None, :]
    b1x, b1y = b1[:, 0][None, :], b1[:, 1][None, :]
    d1 = cross(a0x, a0y, a1x, a1y, b0x, b0y)
    d2 = cross(a0x, a0y, a1x, a1y, b1x, b1y)
    d3 = cross(b0x, b0y, b1x, b1y, a0x, a0y)
    d4 = cross(b0x, b0y, b1x, b1y, a1x, a1y)
    proper = ((d1 * d2) < 0) & ((d3 * d4) < 0)
    if proper.any():
        return True
    # collinear / endpoint touches
    eps = 1e-12

    def on_seg(px, py, qx, qy, rx, ry):
        return (
            (np.minimum(px, qx) - eps <= rx)
            & (rx <= np.maximum(px, qx) + eps)
            & (np.minimum(py, qy) - eps <= ry)
            & (ry <= np.maximum(py, qy) + eps)
        )

    t = ((np.abs(d1) < eps) & on_seg(a0x, a0y, a1x, a1y, b0x, b0y)) | (
        (np.abs(d2) < eps) & on_seg(a0x, a0y, a1x, a1y, b1x, b1y)
    ) | ((np.abs(d3) < eps) & on_seg(b0x, b0y, b1x, b1y, a0x, a0y)) | (
        (np.abs(d4) < eps) & on_seg(b0x, b0y, b1x, b1y, a1x, a1y)
    )
    return bool(t.any())


def intersects(buf_a: bytes, buf_b: bytes) -> bool:
    """Exact ST_Intersects for the supported type matrix.

    Strategy (same tiering the reference gets from GEOS): bbox reject,
    then point-in-polygon / segment-intersection tests.
    """
    ea, eb = envelope(buf_a), envelope(buf_b)
    if ea[0] > eb[2] or eb[0] > ea[2] or ea[1] > eb[3] or eb[1] > ea[3]:
        return False
    ga, gb = parse(buf_a), parse(buf_b)
    return _geom_intersects(ga, gb)


def _flatten(g: Geom):
    if g.children:
        for c in g.children:
            yield from _flatten(c)
    else:
        yield g


def _geom_intersects(ga: Geom, gb: Geom) -> bool:
    for a in _flatten(ga):
        for b in _flatten(gb):
            if _simple_intersects(a, b):
                return True
    return False


def _simple_intersects(a: Geom, b: Geom) -> bool:
    if a.gtype == POINT and b.gtype == POINT:
        return bool(np.allclose(a.parts[0][0], b.parts[0][0], atol=0.0))
    if a.gtype == POINT:
        return _point_vs(a.parts[0][0], b)
    if b.gtype == POINT:
        return _point_vs(b.parts[0][0], a)
    # line/polygon combinations: boundary-segment intersection first
    for ra in a.parts:
        sa0, sa1 = _segments(ra)
        if len(sa0) == 0:
            continue
        for rb in b.parts:
            sb0, sb1 = _segments(rb)
            if len(sb0) == 0:
                continue
            if _segments_intersect(sa0, sa1, sb0, sb1):
                return True
    # containment: a fully inside b or b fully inside a
    if b.gtype == POLYGON and a.parts and len(a.parts[0]) > 0:
        p = a.parts[0][0]
        if _point_in_polygon(float(p[0]), float(p[1]), b):
            return True
    if a.gtype == POLYGON and b.parts and len(b.parts[0]) > 0:
        p = b.parts[0][0]
        if _point_in_polygon(float(p[0]), float(p[1]), a):
            return True
    return False


def _point_vs(pt: np.ndarray, g: Geom) -> bool:
    px, py = float(pt[0]), float(pt[1])
    if g.gtype == POLYGON:
        return _point_in_polygon(px, py, g)
    if g.gtype == LINESTRING:
        return _on_ring_boundary(px, py, g.parts[0])
    if g.gtype == POINT:
        return px == g.parts[0][0, 0] and py == g.parts[0][0, 1]
    return False


def distance(buf_a: bytes, buf_b: bytes) -> float:
    """Euclidean ST_Distance. Exact for point/point, point/line,
    point/polygon-boundary, line/line; 0 when geometries intersect."""
    if intersects(buf_a, buf_b):
        return 0.0
    ga, gb = parse(buf_a), parse(buf_b)
    best = math.inf
    # skip EMPTY components (0-point arrays crash the reductions); if a
    # whole side is empty no distance exists — NaN, PostGIS-style
    arrs_a = [r for r in ga.rings() if len(r)]
    arrs_b = [r for r in gb.rings() if len(r)]
    if not arrs_a or not arrs_b:
        return math.nan
    for ra in arrs_a:
        for rb in arrs_b:
            best = min(best, _min_dist_arrays(ra, rb))
    return best


def _min_dist_arrays(a: np.ndarray, b: np.ndarray) -> float:
    best = min(_pts_to_polyline(a, b), _pts_to_polyline(b, a))
    return best


def _pts_to_polyline(pts: np.ndarray, line: np.ndarray) -> float:
    if len(line) == 1:
        d = np.hypot(pts[:, 0] - line[0, 0], pts[:, 1] - line[0, 1])
        return float(d.min())
    p0, p1 = line[:-1], line[1:]
    d = p1 - p0
    seg_len2 = (d * d).sum(axis=1)
    seg_len2 = np.where(seg_len2 == 0, 1e-300, seg_len2)
    # one broadcast (P, S) pass per block instead of a per-point Python
    # loop (the st_distance hot path ran n_points interpreted
    # iterations per ring pair); identical elementwise float ops, block
    # size caps the temporary at ~2M cells
    best = math.inf
    step = max(1, 2_000_000 // max(len(p0), 1))
    for i in range(0, len(pts), step):
        blk = pts[i:i + step]                               # (P, 2)
        diff = blk[:, None, :] - p0[None, :, :]             # (P, S, 2)
        t = (diff * d[None, :, :]).sum(axis=2) / seg_len2[None, :]
        t = np.clip(t, 0.0, 1.0)
        proj = p0[None, :, :] + t[..., None] * d[None, :, :]
        dist = np.hypot(proj[..., 0] - blk[:, None, 0],
                        proj[..., 1] - blk[:, None, 1])
        best = min(best, float(dist.min()))
    return best


def geometry_type(buf: bytes) -> str:
    return parse(buf).type_name


def area(buf: bytes) -> float:
    """Planar ST_Area: shells minus holes via shoelace (PostGIS/DuckDB
    spatial semantics, reference surface SURVEY §2.11).  Points/lines: 0."""
    g = parse(buf)
    total = 0.0
    stack = [g]
    while stack:
        cur = stack.pop()
        if cur.children:
            stack.extend(cur.children)
            continue
        if cur.gtype != POLYGON:
            continue
        for i, ring in enumerate(cur.parts):
            a, _, _ = _ring_area_centroid(ring)
            total += abs(a) if i == 0 else -abs(a)
    return float(total)


def length(buf: bytes) -> float:
    """Planar ST_Length/ST_Perimeter: polyline length for (multi)lines,
    total ring perimeter for (multi)polygons, 0 for points."""
    g = parse(buf)
    total = 0.0
    stack = [g]
    while stack:
        cur = stack.pop()
        if cur.children:
            stack.extend(cur.children)
            continue
        if cur.gtype == POINT or cur.gtype == MULTIPOINT:
            continue
        for arr in cur.parts:
            if len(arr) >= 2:
                seg = np.diff(arr, axis=0)
                total += float(np.hypot(seg[:, 0], seg[:, 1]).sum())
    return float(total)


def _dp_mask(arr: np.ndarray, tol: float) -> np.ndarray:
    """Douglas-Peucker keep-mask (iterative, stack-based)."""
    n = len(arr)
    keep = np.zeros(n, dtype=bool)
    keep[0] = keep[-1] = True
    stack = [(0, n - 1)]
    while stack:
        i0, i1 = stack.pop()
        if i1 <= i0 + 1:
            continue
        p0, p1 = arr[i0], arr[i1]
        d = p1 - p0
        seg_len2 = float((d * d).sum())
        pts = arr[i0 + 1:i1]
        if seg_len2 == 0.0:
            dist = np.hypot(pts[:, 0] - p0[0], pts[:, 1] - p0[1])
        else:
            # perpendicular distance to the infinite line through p0-p1
            dist = np.abs((pts[:, 0] - p0[0]) * d[1] - (pts[:, 1] - p0[1]) * d[0]) \
                / math.sqrt(seg_len2)
        j = int(dist.argmax())
        if float(dist[j]) > tol:
            k = i0 + 1 + j
            keep[k] = True
            stack.append((i0, k))
            stack.append((k, i1))
    return keep


def simplify(buf: bytes, tolerance: float) -> bytes:
    """ST_Simplify (Douglas-Peucker, public algorithm).  Rings keep their
    closure; a ring simplified below 4 points (3 + closure) is left
    unsimplified (degenerate guard, matching GEOS's preserving behavior
    closely enough for display/compaction use)."""
    if tolerance < 0:
        raise ValueError(f"tolerance must be >= 0, got {tolerance}")
    g = parse(buf)

    def simp_line(arr: np.ndarray) -> np.ndarray:
        if len(arr) < 3:
            return arr
        return arr[_dp_mask(arr, tolerance)]

    def simp_ring(arr: np.ndarray) -> np.ndarray:
        out = simp_line(arr)
        return arr if len(out) < 4 else out

    def rebuild(cur: Geom):
        if cur.gtype == POINT:
            return encode_point(float(cur.parts[0][0, 0]), float(cur.parts[0][0, 1]))
        if cur.gtype == LINESTRING:
            return encode_linestring(simp_line(cur.parts[0]))
        if cur.gtype == POLYGON:
            return encode_polygon([simp_ring(r) for r in cur.parts])
        if cur.gtype == MULTIPOLYGON:
            return encode_multipolygon(
                [[simp_ring(r) for r in poly.parts] for poly in cur.children])
        if cur.gtype in (MULTIPOINT, MULTILINESTRING, GEOMETRYCOLLECTION):
            # GEOS semantics: points pass through, each part simplified
            return _encode_collection(cur.gtype,
                                      [rebuild(c) for c in cur.children])
        raise ValueError(f"ST_Simplify unsupported for {cur.type_name}")

    return rebuild(g)


def _encode_collection(gtype: int, parts: list) -> bytes:
    """Multi/collection WKB from already-encoded child WKBs."""
    return struct.pack("<BII", 1, gtype, len(parts)) + b"".join(parts)


def npoints(buf: bytes) -> int:
    """ST_NPoints: total vertex count (closure vertices included,
    PostGIS semantics)."""
    g = parse(buf)
    total = 0
    stack = [g]
    while stack:
        cur = stack.pop()
        if cur.children:
            stack.extend(cur.children)
            continue
        for arr in cur.parts:
            total += len(arr)
    return total


def convex_hull(buf: bytes) -> bytes | None:
    """ST_ConvexHull via Andrew's monotone chain (public algorithm,
    O(n log n)).  Returns a POLYGON (CCW shell, closed), a LINESTRING
    for collinear inputs, or a POINT for degenerate ones."""
    g = parse(buf)
    arrs = [arr for arr in g.rings() if len(arr)]
    if not arrs:
        # EMPTY geometry: NULL result, matching every sibling function
        # (envelope/centroid/area) — raising here killed whole Spark
        # jobs through st_convexhull on one EMPTY row
        return None
    return hull_of_points(np.vstack(arrs))


def hull_of_points(raw_pts: "np.ndarray") -> bytes:
    """Monotone-chain hull of an (n, 2) point array -> WKB (shared by
    per-geometry ST_ConvexHull and the group-wise dissolve aggregate)."""
    pts = np.unique(raw_pts, axis=0)   # sorted lexicographically
    if len(pts) == 1:
        return encode_point(float(pts[0, 0]), float(pts[0, 1]))

    def cross(o, a, b):
        return (a[0] - o[0]) * (b[1] - o[1]) - (a[1] - o[1]) * (b[0] - o[0])

    lower: list = []
    for p in pts:
        while len(lower) >= 2 and cross(lower[-2], lower[-1], p) <= 0:
            lower.pop()
        lower.append(p)
    upper: list = []
    for p in pts[::-1]:
        while len(upper) >= 2 and cross(upper[-2], upper[-1], p) <= 0:
            upper.pop()
        upper.append(p)
    hull = lower[:-1] + upper[:-1]
    if len(hull) < 3:
        return encode_linestring(np.array([pts[0], pts[-1]], dtype="f8"))
    ring = np.vstack(hull + [hull[0]]).astype("f8")
    return encode_polygon([ring])


def buffer_point(x: float, y: float, radius: float, segments: int = 32) -> bytes:
    """ST_Buffer for a point: regular ``segments``-gon approximation
    (the standard discretization; GEOS uses 8 segments/quadrant).
    CCW ring starting at angle 0, closed."""
    if not radius > 0:      # `not >` also rejects NaN, which `<= 0` passed
        raise ValueError(f"radius must be > 0, got {radius}")
    if segments < 3:
        raise ValueError(f"segments must be >= 3, got {segments}")
    ang = np.linspace(0.0, 2.0 * np.pi, segments, endpoint=False)
    ring = np.column_stack([x + radius * np.cos(ang),
                            y + radius * np.sin(ang)])
    ring = np.vstack([ring, ring[:1]])
    return encode_polygon([ring.astype("f8")])


# ---------------------------------------------------------------------------
# Rectangle clipping (map tiling)
# ---------------------------------------------------------------------------

def _clip_ring_rect(ring: np.ndarray, xmin: float, ymin: float,
                    xmax: float, ymax: float) -> np.ndarray:
    """Sutherland-Hodgman clip of one ring against an axis-aligned rect
    (rect is convex, so this is exact for ANY subject ring, concave
    included).  Returns the clipped ring (closed) or an empty array."""
    pts = np.asarray(ring, dtype="f8")
    if len(pts) and (pts[0] == pts[-1]).all():
        pts = pts[:-1]                    # open form for clipping

    def clip_edge(poly, inside, intersect):
        out = []
        n = len(poly)
        for i in range(n):
            cur, prev = poly[i], poly[i - 1]
            cin, pin = inside(cur), inside(prev)
            if cin:
                if not pin:
                    out.append(intersect(prev, cur))
                out.append(cur)
            elif pin:
                out.append(intersect(prev, cur))
        return out

    def x_cross(p, q, x):
        t = (x - p[0]) / (q[0] - p[0])
        return (x, p[1] + t * (q[1] - p[1]))

    def y_cross(p, q, y):
        t = (y - p[1]) / (q[1] - p[1])
        return (p[0] + t * (q[0] - p[0]), y)

    poly = [tuple(p) for p in pts]
    for inside, inter in (
        (lambda p: p[0] >= xmin, lambda a, b: x_cross(a, b, xmin)),
        (lambda p: p[0] <= xmax, lambda a, b: x_cross(a, b, xmax)),
        (lambda p: p[1] >= ymin, lambda a, b: y_cross(a, b, ymin)),
        (lambda p: p[1] <= ymax, lambda a, b: y_cross(a, b, ymax)),
    ):
        poly = clip_edge(poly, inside, inter)
        if not poly:
            return np.empty((0, 2))
    arr = np.asarray(poly + [poly[0]], dtype="f8")
    return arr


def _clip_line_rect(pts: np.ndarray, xmin, ymin, xmax, ymax) -> list:
    """Clip a polyline to a rect: list of kept sub-polylines
    (Liang-Barsky per segment, consecutive kept segments merged)."""
    out, cur = [], []
    for i in range(len(pts) - 1):
        p, q = pts[i], pts[i + 1]
        t0, t1 = 0.0, 1.0
        dx, dy = q[0] - p[0], q[1] - p[1]
        ok = True
        for num, den in (((xmin - p[0]), dx), ((p[0] - xmax), -dx),
                         ((ymin - p[1]), dy), ((p[1] - ymax), -dy)):
            if den == 0:
                if num > 0:
                    ok = False
                    break
                continue
            t = num / den
            if den > 0:
                t0 = max(t0, t)
            else:
                t1 = min(t1, t)
            if t0 > t1:
                ok = False
                break
        if not ok:
            if cur:
                out.append(np.asarray(cur))
                cur = []
            continue
        # at t==0/1 use the ORIGINAL endpoints: p + 1.0*(q-p) need not
        # equal q in floats, and the 1-ulp gap split inside polylines
        a = (p[0], p[1]) if t0 == 0.0 else (p[0] + t0 * dx, p[1] + t0 * dy)
        b = (q[0], q[1]) if t1 == 1.0 else (p[0] + t1 * dx, p[1] + t1 * dy)
        if not cur or cur[-1] != a:
            if cur:
                out.append(np.asarray(cur))
            cur = [a]
        cur.append(b)
    if cur:
        out.append(np.asarray(cur))
    return [s for s in out if len(s) >= 2]


def clip_to_rect(buf: bytes, xmin: float, ymin: float,
                 xmax: float, ymax: float) -> bytes | None:
    """Clip any 2-D geometry to an axis-aligned rectangle -> WKB (or
    None when nothing survives).  Polygons via Sutherland-Hodgman
    (exact: the clip region is convex; holes clip ring-by-ring),
    polylines via Liang-Barsky, points by containment."""
    g = parse(buf)
    t = g.gtype
    if t == POINT:
        x, y = g.parts[0][0]
        return buf if (xmin <= x <= xmax and ymin <= y <= ymax) else None
    if t == MULTIPOINT:
        kept = [c for c in g.children
                if xmin <= c.parts[0][0, 0] <= xmax
                and ymin <= c.parts[0][0, 1] <= ymax]
        if not kept:
            return None
        return (b"\x01\x04\x00\x00\x00" + struct.pack("<I", len(kept))
                + b"".join(encode_point(*c.parts[0][0]) for c in kept))
    if t in (LINESTRING, MULTILINESTRING):
        lines = g.parts if t == LINESTRING else [c.parts[0] for c in g.children]
        segs = []
        for ln in lines:
            segs.extend(_clip_line_rect(np.asarray(ln, dtype="f8"),
                                        xmin, ymin, xmax, ymax))
        if not segs:
            return None
        if len(segs) == 1:
            return encode_linestring(segs[0])
        return (b"\x01\x05\x00\x00\x00" + struct.pack("<I", len(segs))
                + b"".join(encode_linestring(s) for s in segs))
    if t in (POLYGON, MULTIPOLYGON):
        polys = [g] if t == POLYGON else g.children
        out_polys = []
        for poly in polys:
            shell = _clip_ring_rect(poly.parts[0], xmin, ymin, xmax, ymax)
            if len(shell) < 4:
                continue
            rings = [shell]
            for h in poly.parts[1:]:
                hc = _clip_ring_rect(h, xmin, ymin, xmax, ymax)
                if len(hc) >= 4:
                    rings.append(hc)
            # a rect fully inside a HOLE clips shell and hole to the
            # same ring: net area 0 — "nothing survives", not a
            # spurious degenerate feature covering the whole tile
            net = abs(_ring_area_centroid(np.asarray(rings[0],
                                                     dtype="f8"))[0])
            for hc in rings[1:]:
                net -= abs(_ring_area_centroid(
                    np.asarray(hc, dtype="f8"))[0])
            if net <= 0.0:
                continue
            out_polys.append(rings)
        if not out_polys:
            return None
        if len(out_polys) == 1:
            return encode_polygon(out_polys[0])
        return encode_multipolygon(out_polys)
    raise ValueError(f"cannot clip geometry type {TYPE_NAMES.get(t, t)}")
