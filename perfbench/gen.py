"""Seeded GeoParquet inputs and their expected results, numpy/pyarrow only.

Every polygon is a convex ring: 4 to 8 vertices on a rotated ellipse
around a centre. Centres are Zipf-clustered: a few dense clusters hold most
rows, as building footprints do in cities. Because each ring is convex, the
exact "polygon intersects box" answer has a closed form (separating axes),
so the expected output of the exact extract path is computed here without
the engine under test.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: reference default layout: ZSTD and 100k-row row groups
ROW_GROUP_ROWS = 100_000
VERTEX_COUNTS = (4, 5, 6, 7, 8)


def _centres(rng: np.random.Generator, n: int, clusters: int):
    cx = rng.uniform(-160.0, 160.0, clusters)
    cy = rng.uniform(-55.0, 65.0, clusters)
    spread = rng.uniform(0.3, 2.0, clusters)
    weight = 1.0 / np.arange(1, clusters + 1) ** 1.1
    pick = rng.choice(clusters, size=n, p=weight / weight.sum())
    x = cx[pick] + rng.normal(0.0, 1.0, n) * spread[pick]
    y = cy[pick] + rng.normal(0.0, 1.0, n) * spread[pick]
    return np.clip(x, -179.0, 179.0), np.clip(y, -84.0, 84.0)


def _rings(rng, x, y, nverts):
    """(n, V, 2) convex rings around (x, y): V sorted angles on an ellipse
    with random axes and rotation. Counter-clockwise, not closed."""
    n = len(x)
    theta = np.sort(rng.uniform(0.0, 2 * np.pi, (n, nverts)), axis=1)
    a = rng.lognormal(np.log(2e-3), 0.6, n)[:, None]
    b = a * rng.uniform(0.4, 1.0, n)[:, None]
    rot = rng.uniform(0.0, np.pi, n)[:, None]
    ex, ey = a * np.cos(theta), b * np.sin(theta)
    vx = x[:, None] + ex * np.cos(rot) - ey * np.sin(rot)
    vy = y[:, None] + ex * np.sin(rot) + ey * np.cos(rot)
    return np.stack([vx, vy], axis=2)


def _wkb_polygons(rings: np.ndarray) -> pa.BinaryArray:
    """Little-endian WKB POLYGON, one closed ring per row."""
    n, v, _ = rings.shape
    closed = np.concatenate([rings, rings[:, :1]], axis=1)
    head = np.zeros(n, dtype=[("order", "u1"), ("type", "<u4"),
                              ("nrings", "<u4"), ("npts", "<u4")])
    head["order"], head["type"], head["nrings"], head["npts"] = 1, 3, 1, v + 1
    body = np.ascontiguousarray(closed, dtype="<f8").reshape(n, -1)
    rec = np.concatenate([head.view("u1").reshape(n, -1),
                          body.view("u1")], axis=1)
    size = rec.shape[1]
    offsets = np.arange(0, (n + 1) * size, size, dtype=np.int32)
    return pa.BinaryArray.from_buffers(
        pa.binary(), n, [None, pa.py_buffer(offsets), pa.py_buffer(rec.tobytes())])


class Polygons:
    """n seeded polygons: the Arrow table plus the numpy truth behind it."""

    def __init__(self, seed: int, n: int, clusters: int = 40):
        rng = np.random.default_rng(seed)
        x, y = _centres(rng, n, clusters)
        nv = rng.choice(VERTEX_COUNTS, size=n)
        self.n = n
        self.env = np.empty((n, 4))
        #: per vertex count: (row indices, rings)
        self.groups = []
        wkb = []
        for v in VERTEX_COUNTS:
            idx = np.flatnonzero(nv == v)
            rings = _rings(rng, x[idx], y[idx], v)
            self.groups.append((idx, rings))
            self.env[idx] = np.column_stack(
                [rings[..., 0].min(1), rings[..., 1].min(1),
                 rings[..., 0].max(1), rings[..., 1].max(1)])
            wkb.append(_wkb_polygons(rings))
        # rows were generated grouped by vertex count: restore row order
        order = np.concatenate([g[0] for g in self.groups])
        self.geometry = pa.concat_arrays(wkb).take(pa.array(np.argsort(order)))
        self.height = rng.gamma(2.0, 6.0, n).round(2)
        self.kind = rng.choice(np.array(["residential", "commercial",
                                         "industrial", "civic"]), n)

    def bounds(self, mask=None) -> list[float]:
        e = self.env if mask is None else self.env[mask]
        return [float(e[:, 0].min()), float(e[:, 1].min()),
                float(e[:, 2].max()), float(e[:, 3].max())]

    def query_box(self, seed: int, frac: float) -> tuple[float, ...]:
        """A box around a seeded row's centre, grown until the envelopes of
        ``frac`` of the rows touch it, so selectivity does not depend on
        the seed."""
        rng = np.random.default_rng(seed + 7919)
        cx = (self.env[:, 0] + self.env[:, 2]) / 2
        cy = (self.env[:, 1] + self.env[:, 3]) / 2
        i = rng.integers(self.n)

        def box(r):
            return (max(cx[i] - r, -180.0), max(cy[i] - r, -90.0),
                    min(cx[i] + r, 180.0), min(cy[i] + r, 90.0))

        lo, hi = 0.0, 360.0
        for _ in range(60):
            mid = (lo + hi) / 2
            if self.envelope_hits(box(mid)).mean() < frac:
                lo = mid
            else:
                hi = mid
        return tuple(float(v) for v in box(hi))

    def envelope_hits(self, box) -> np.ndarray:
        """Covering-path truth: envelope overlaps box (inclusive)."""
        e = self.env
        return ((e[:, 2] >= box[0]) & (e[:, 0] <= box[2])
                & (e[:, 3] >= box[1]) & (e[:, 1] <= box[3]))

    def exact_hits(self, box) -> np.ndarray:
        """Exact-path truth: convex ring intersects box, by separating
        axes (the box's two axes are the envelope test; the ring's edge
        normals are the rest)."""
        hit = self.envelope_hits(box)
        corners = np.array([[box[0], box[1]], [box[2], box[1]],
                            [box[2], box[3]], [box[0], box[3]]])
        for idx, rings in self.groups:
            cand = hit[idx]
            r = rings[cand]
            edge = np.roll(r, -1, axis=1) - r
            normal = np.stack([-edge[..., 1], edge[..., 0]], axis=2)
            p = np.einsum("nvk,nwk->nvw", normal, r)
            q = np.einsum("nvk,ck->nvc", normal, corners)
            apart = (q.max(2) < p.min(2)) | (p.max(2) < q.min(2))
            hit[idx[cand]] = ~apart.any(1)
        return hit

    def table(self, with_bbox: bool) -> pa.Table:
        cols = {"id": pa.array(np.arange(self.n, dtype=np.int64)),
                "height": pa.array(self.height),
                "kind": pa.array(self.kind),
                "geometry": self.geometry}
        if with_bbox:
            cols["bbox"] = pa.StructArray.from_arrays(
                [pa.array(self.env[:, j]) for j in range(4)],
                ["xmin", "ymin", "xmax", "ymax"])
        geo = {"encoding": "WKB", "geometry_types": ["Polygon"],
               "bbox": self.bounds()}
        if with_bbox:
            geo["covering"] = {"bbox": {k: ["bbox", k] for k in
                                        ("xmin", "ymin", "xmax", "ymax")}}
        meta = {"version": "1.1.0", "primary_column": "geometry",
                "columns": {"geometry": geo}}
        t = pa.table(cols)
        return t.replace_schema_metadata({b"geo": json.dumps(meta).encode()})

    def write(self, path: str, with_bbox: bool) -> int:
        """Write one GeoParquet file; returns its size in bytes."""
        pq.write_table(self.table(with_bbox), path, compression="zstd",
                       row_group_size=ROW_GROUP_ROWS)
        return os.path.getsize(path)
