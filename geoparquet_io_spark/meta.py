"""GeoParquet footer-metadata kernel (pure python, no Spark).

Parses / builds / validates the ``geo`` key-value metadata JSON that the
GeoParquet spec stores in the Parquet footer.  Reference behavior:
parse at core/common.py:995-1046, build at
core/write_strategies/base.py:26-99 and core/common.py:1606, version set
GEOPARQUET_VERSIONS at core/common.py:56-66.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from typing import Any

GEOPARQUET_VERSIONS = {"1.0", "1.1", "2.0", "parquet-geo-only"}
# 'parquet-geo-only' is a WRITER MODE, not a spec version: when its
# footer fallback is emitted at all (pyarrow too old for native GEOMETRY
# logical types), the JSON must carry a real semver — external
# validators reject "parquet-geo-only" as an unknown version
VERSION_STRINGS = {"1.0": "1.0.0", "1.1": "1.1.0", "2.0": "2.0.0",
                   "parquet-geo-only": "2.0.0"}
DEFAULT_VERSION = "1.1"

VALID_GEOMETRY_TYPES = {
    "Point", "LineString", "Polygon", "MultiPoint", "MultiLineString",
    "MultiPolygon", "GeometryCollection",
}


def bbox_2d(b) -> tuple[float, float, float, float] | None:
    """Planar (xmin, ymin, xmax, ymax) from a GeoParquet footer bbox.

    The spec's 3D form is [xmin, ymin, zmin, xmax, ymax, zmax]: reading
    it positionally as 2D records zmin as xmax — the bug class that
    mispruned manifest files (r6) and under-reported envelopes (r7).
    Every consumer that wants a planar envelope goes through here."""
    if not b:
        return None
    if len(b) == 6:
        return (b[0], b[1], b[3], b[4])
    return (b[0], b[1], b[2], b[3])


def bbox_union(a: list | None, b: list | None) -> list | None:
    """Union of two footer bboxes; mixed 2D/3D unions project to 2D
    (dropping Z is the only spec-valid combination), 3D+3D keeps Z.

    Antimeridian-crossing inputs (spec-valid xmin > xmax) cannot be
    min/max-unioned: the naive result EXCLUDED extent near +-180 and
    downstream bbox pruning silently dropped matching geometries.  The
    conservative correct union widens X to the full world range — a
    valid superset that can never misprune."""
    if a is None or b is None:
        return None

    def _crosses(bb):
        return bb[0] > bb[len(bb) // 2]

    if len(a) == 6 and len(b) == 6:
        out = [min(a[0], b[0]), min(a[1], b[1]), min(a[2], b[2]),
               max(a[3], b[3]), max(a[4], b[4]), max(a[5], b[5])]
        if _crosses(a) or _crosses(b):
            out[0], out[3] = -180.0, 180.0
        return out
    a2, b2 = bbox_2d(a), bbox_2d(b)
    out = [min(a2[0], b2[0]), min(a2[1], b2[1]),
           max(a2[2], b2[2]), max(a2[3], b2[3])]
    if _crosses(a2) or _crosses(b2):
        out[0], out[2] = -180.0, 180.0
    return out


@dataclass
class GeoColumnMeta:
    """Per-geometry-column metadata (spec `columns.{name}` object)."""

    encoding: str = "WKB"
    geometry_types: list[str] = field(default_factory=list)
    crs: Any = None  # PROJJSON dict | "AUTH:CODE" | None (=> OGC:CRS84)
    bbox: list[float] | None = None
    covering: dict | None = None  # {"bbox": {"xmin": [col,"xmin"], ...}}
    edges: str | None = None
    orientation: str | None = None
    epoch: float | None = None

    @property
    def covering_column(self) -> str | None:
        """The column ``covering.bbox`` names; None when the covering is
        absent or malformed (untrusted footers degrade to "no
        covering")."""
        b = self.covering.get("bbox") if isinstance(self.covering, dict) else None
        xmin = b.get("xmin") if isinstance(b, dict) else None
        return xmin[0] if isinstance(xmin, (list, tuple)) and xmin else None

    def to_dict(self) -> dict:
        d: dict[str, Any] = {"encoding": self.encoding, "geometry_types": list(self.geometry_types)}
        if self.crs is not None:
            d["crs"] = self.crs
        if self.bbox is not None:
            d["bbox"] = [float(v) for v in self.bbox]
        if self.covering is not None:
            d["covering"] = self.covering
        if self.edges is not None:
            d["edges"] = self.edges
        if self.orientation is not None:
            d["orientation"] = self.orientation
        if self.epoch is not None:
            d["epoch"] = self.epoch
        return d

    @classmethod
    def from_dict(cls, d: dict) -> "GeoColumnMeta":
        return cls(
            encoding=d.get("encoding", "WKB"),
            geometry_types=list(d.get("geometry_types", [])),
            crs=d.get("crs"),
            bbox=list(d["bbox"]) if d.get("bbox") is not None else None,
            covering=d.get("covering"),
            edges=d.get("edges"),
            orientation=d.get("orientation"),
            epoch=d.get("epoch"),
        )


@dataclass
class GeoMeta:
    """Whole-file `geo` metadata object."""

    primary_column: str = "geometry"
    columns: dict[str, GeoColumnMeta] = field(default_factory=dict)
    version: str = DEFAULT_VERSION

    # -- (de)serialization ----------------------------------------------------

    def to_json(self) -> str:
        return json.dumps(
            {
                "version": VERSION_STRINGS.get(self.version, self.version),
                "primary_column": self.primary_column,
                "columns": {k: v.to_dict() for k, v in self.columns.items()},
            },
            separators=(",", ":"),
        )

    @classmethod
    def from_json(cls, raw: str | bytes) -> "GeoMeta":
        d = json.loads(raw)
        ver = str(d.get("version", "1.1.0"))
        short = ver.rsplit(".", 1)[0] if ver.count(".") == 2 else ver
        return cls(
            primary_column=d.get("primary_column", "geometry"),
            columns={k: GeoColumnMeta.from_dict(v) for k, v in d.get("columns", {}).items()},
            version=short if short in GEOPARQUET_VERSIONS else ver,
        )

    @classmethod
    def from_footer(cls, metadata: dict[bytes, bytes] | None) -> "GeoMeta | None":
        """Extract from pyarrow schema.metadata mapping (b'geo' key)."""
        if not metadata:
            return None
        raw = metadata.get(b"geo") or metadata.get("geo")
        if raw is None:
            return None
        return cls.from_json(raw)

    # -- convenience ------------------------------------------------------------

    @property
    def primary(self) -> GeoColumnMeta:
        """The primary column's metadata — a DETACHED default when the
        entry is absent.  Reading must not repair the object: the old
        auto-insert meant merely constructing a GeoTable made
        validate() pass on spec-invalid metadata and fabricated footer
        columns.  Writers use :meth:`ensure_primary`."""
        got = self.columns.get(self.primary_column)
        return got if got is not None else GeoColumnMeta()

    def ensure_primary(self) -> GeoColumnMeta:
        """The primary entry, INSERTED if missing — for deliberate
        metadata mutation (set_covering, crs/bbox stamping)."""
        if self.primary_column not in self.columns:
            self.columns[self.primary_column] = GeoColumnMeta()
        return self.columns[self.primary_column]

    def copy(self) -> "GeoMeta":
        """Deep copy via the JSON round trip (one idiom for the five
        call sites that each hand-rolled it).  The version is restored
        explicitly: to_json serializes writer-mode values through
        VERSION_STRINGS ('parquet-geo-only' -> '2.0.0'), so the round
        trip silently rewrote the mode and the footer-suppression
        branch it selects never fired after any transform."""
        out = GeoMeta.from_json(self.to_json())
        out.version = self.version
        return out

    def with_primary_column(self, name: str) -> "GeoMeta":
        # deep-copy the column metas: a shallow dict copy aliased the
        # GeoColumnMeta objects, so set_covering on the result mutated
        # the original
        cols = {k: GeoColumnMeta.from_dict(v.to_dict())
                for k, v in self.columns.items()}
        if self.primary_column in cols and name not in cols:
            cols[name] = cols.pop(self.primary_column)
        return GeoMeta(primary_column=name, columns=cols, version=self.version)

    def set_covering(self, bbox_column: str) -> None:
        """covering.bbox metadata (reference: api/table.py:2079-2090)."""
        self.ensure_primary().covering = {
            "bbox": {
                "xmin": [bbox_column, "xmin"],
                "ymin": [bbox_column, "ymin"],
                "xmax": [bbox_column, "xmax"],
                "ymax": [bbox_column, "ymax"],
            }
        }

    def clear_covering(self) -> None:
        self.ensure_primary().covering = None

    def validate(self) -> list[str]:
        """Spec checks that apply to metadata shape
        (subset of core/validate.py:126-418)."""
        errors: list[str] = []
        if not self.primary_column:
            errors.append("primary_column missing")
        if self.primary_column not in self.columns:
            errors.append(f"primary_column {self.primary_column!r} not in columns")
        for name, col in self.columns.items():
            if col.encoding not in {"WKB", "point", "linestring", "polygon",
                                    "multipoint", "multilinestring", "multipolygon"}:
                errors.append(f"column {name}: invalid encoding {col.encoding!r}")
            for gt in col.geometry_types:
                base = gt.removesuffix(" Z")
                if base not in VALID_GEOMETRY_TYPES:
                    errors.append(f"column {name}: invalid geometry type {gt!r}")
            if col.bbox is not None and len(col.bbox) not in (4, 6):
                errors.append(f"column {name}: bbox must have 4 or 6 values")
            if col.orientation is not None and col.orientation != "counterclockwise":
                errors.append(f"column {name}: invalid orientation {col.orientation!r}")
            if col.edges is not None and col.edges not in {"planar", "spherical"}:
                errors.append(f"column {name}: invalid edges {col.edges!r}")
        return errors
