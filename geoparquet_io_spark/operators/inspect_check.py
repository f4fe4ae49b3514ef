"""Validation / inspection operators (SURVEY.md 2.14).

check_structure  -> core/check_parquet_structure.py:14-533 (row groups,
                    compression, bbox covering assessment)
validate         -> core/validate.py (spec checks: metadata shape,
                    physical schema, data-vs-metadata)
check_fixes      -> core/check_fixes.py:27-318 (re-write applying fixes)
inspect_*        -> core/inspect.py, core/metadata_utils.py

All footer work is driver-side pyarrow (O(1), no Spark job — the
reference's own rule, core/duckdb_metadata.py).  ``validate``'s
data-dependent checks read a bounded sample on the driver with pyarrow
too, so it starts no Spark job.
"""

from __future__ import annotations

import itertools
import math
import os
import struct
from dataclasses import dataclass, field

import pyarrow.parquet as pq

from pyspark.sql import functions as F

from geoparquet_io_spark.meta import GeoMeta
from geoparquet_io_spark.sources.geoparquet import (
    dataset_files,
    footer_geo,
    is_hidden,
    read_footers,
)

# reference targets (core/check_parquet_structure.py:44-105)
ROW_GROUP_MIN_ROWS = 10_000
ROW_GROUP_MAX_ROWS = 200_000
ROW_GROUP_TARGET_MIN_MB = 64
ROW_GROUP_TARGET_MAX_MB = 256
RECOMMENDED_CODEC = "ZSTD"


@dataclass
class StructureReport:
    num_files: int
    num_row_groups: int
    total_rows: int
    avg_rows_per_group: float
    min_rows_per_group: int
    max_rows_per_group: int
    compressions: dict[str, set]
    has_geo_metadata: bool
    has_bbox_covering: bool
    issues: list[str] = field(default_factory=list)

    @property
    def ok(self) -> bool:
        return not self.issues


def check_structure(path: str) -> StructureReport:
    files = dataset_files(path)
    if not files:
        raise FileNotFoundError(path)
    n_groups = 0
    total = 0
    group_rows: list[int] = []
    comps: dict[str, set] = {}
    footers = read_footers(files)
    for md in footers:
        total += md.num_rows
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            n_groups += 1
            group_rows.append(rg.num_rows)
            for c in range(rg.num_columns):
                col = rg.column(c)
                comps.setdefault(col.path_in_schema, set()).add(col.compression)
    geo = GeoMeta.from_footer(footers[0].metadata)
    has_cov = bool(geo and geo.primary.covering)
    issues = []
    avg = total / n_groups if n_groups else 0
    if group_rows and max(group_rows) > ROW_GROUP_MAX_ROWS:
        issues.append(f"row group has {max(group_rows)} rows > {ROW_GROUP_MAX_ROWS}")
    if avg and avg < ROW_GROUP_MIN_ROWS and total > ROW_GROUP_MIN_ROWS:
        issues.append(f"average rows/group {avg:.0f} < {ROW_GROUP_MIN_ROWS}")
    bad_codecs = {c for s in comps.values() for c in s} - {RECOMMENDED_CODEC}
    if bad_codecs:
        issues.append(f"non-{RECOMMENDED_CODEC} compression: {sorted(bad_codecs)}")
    if geo is None:
        issues.append("no geo footer metadata")
    return StructureReport(
        num_files=len(files),
        num_row_groups=n_groups,
        total_rows=total,
        avg_rows_per_group=avg,
        min_rows_per_group=min(group_rows) if group_rows else 0,
        max_rows_per_group=max(group_rows) if group_rows else 0,
        compressions=comps,
        has_geo_metadata=geo is not None,
        has_bbox_covering=has_cov,
        issues=issues,
    )


def _check_covering(geo: GeoMeta, schema) -> list[str]:
    """Covering metadata verification (reference: core/validate.py:819-1058):
    object shape, [column, field] paths, referenced column exists, struct
    layout, float/double field types."""
    import pyarrow as pa

    errors: list[str] = []
    for name, col in geo.columns.items():
        cov = col.covering
        if cov is None:
            continue
        if not isinstance(cov, dict) or "bbox" not in cov:
            errors.append(f"column {name}: covering must be an object with 'bbox'")
            continue
        bbox_paths = cov["bbox"]
        if not isinstance(bbox_paths, dict):
            errors.append(f"column {name}: covering.bbox must be an object")
            continue
        missing = {"xmin", "ymin", "xmax", "ymax"} - set(bbox_paths)
        if missing:
            errors.append(f"column {name}: covering.bbox missing keys {sorted(missing)}")
            continue
        ref_cols = set()
        bad_path = False
        for key, p in bbox_paths.items():
            if (not isinstance(p, (list, tuple)) or len(p) != 2
                    or not all(isinstance(x, str) for x in p)):
                errors.append(
                    f"column {name}: covering.bbox.{key} must be a "
                    f"[column, field] pair, got {p!r}")
                bad_path = True
                continue
            if p[1] != key:
                errors.append(
                    f"column {name}: covering.bbox.{key} points at field "
                    f"{p[1]!r} (expected {key!r})")
            ref_cols.add(p[0])
        if bad_path:
            continue
        for rc in ref_cols:
            if rc not in schema.names:
                errors.append(
                    f"column {name}: covering references missing column {rc!r}")
                continue
            f = schema.field(rc)
            if not pa.types.is_struct(f.type):
                errors.append(
                    f"column {name}: covering column {rc!r} is {f.type}, "
                    "expected struct<xmin,ymin,xmax,ymax>")
                continue
            fields = {f.type.field(i).name: f.type.field(i).type
                      for i in range(f.type.num_fields)}
            for key in ("xmin", "ymin", "xmax", "ymax"):
                if key not in fields:
                    errors.append(
                        f"column {name}: covering column {rc!r} lacks field {key!r}")
                elif not (pa.types.is_float64(fields[key])
                          or pa.types.is_float32(fields[key])):
                    errors.append(
                        f"column {name}: covering field {rc}.{key} is "
                        f"{fields[key]}, expected float/double")
    return errors


def _sample_values(files: list[str], footers: list, gcol: str):
    """Non-null ``gcol`` values in file order (sorted paths), batches in
    order — ``validate``'s sample is the first ``sample_rows`` of them."""
    for f, md in zip(files, footers):
        with pq.ParquetFile(f, metadata=md) as pf:
            if gcol not in pf.schema_arrow.names:
                continue
            for batch in pf.iter_batches(batch_size=8192, columns=[gcol]):
                yield from (b for b in batch.column(0).to_pylist() if b is not None)


def _check_wkb_sample(files: list[str], footers: list, gcol: str,
                      sample_rows: int) -> tuple[list[str], set[str], tuple | None]:
    """One driver-side pass over the sample, one WKB parse per value:
    byte-order marker + known type code (reference: core/validate.py:
    507-584), then the base type names (``wkb.Geom.type_name``, as
    ``st_geometrytype`` reports them) and the sample envelope (None when
    no value has bounds, as a Spark ``min`` over NULLs).  Returns
    ``(errors, types, envelope)``; a marker error anywhere in the sample
    wins over a parse error, and the caller stops on either."""
    from geoparquet_io_spark.functions import wkb as _wkb

    types: set[str] = set()
    lo_x = lo_y = math.inf
    hi_x = hi_y = -math.inf
    have = False
    unparseable = None
    for b in itertools.islice(_sample_values(files, footers, gcol), sample_rows):
        if len(b) < 5:
            return [f"column {gcol}: WKB blob shorter than 5 bytes"], types, None
        order = b[0]
        if order not in (0, 1):
            return [f"column {gcol}: invalid WKB byte-order marker {order}"], types, None
        code = int.from_bytes(b[1:5], "little" if order == 1 else "big")
        # strip EWKB dimension/SRID flags, then ISO thousands (Z/M/ZM)
        plain = code & 0x0FFFFFFF
        if not (1 <= plain % 1000 <= 7 and plain // 1000 in (0, 1, 2, 3)):
            return [f"column {gcol}: unknown WKB geometry type code {code}"], types, None
        if unparseable:
            continue
        try:
            g = _wkb.parse(b)
        except (ValueError, IndexError, struct.error) as ex:
            unparseable = f"column {gcol}: unparseable WKB ({ex})"
            continue
        types.add(g.type_name)
        x0, y0, x1, y1 = _wkb.geom_envelope(g)
        if x0 == x0:     # NaN: EMPTY, no bounds
            have = True
            lo_x, lo_y = min(lo_x, x0), min(lo_y, y0)
            hi_x, hi_y = max(hi_x, x1), max(hi_y, y1)
    if unparseable:
        return [unparseable], types, None
    return [], types, ((lo_x, lo_y, hi_x, hi_y) if have else None)


def _check_per_file_bboxes(files: list[str], footers: list,
                           geo: GeoMeta) -> list[str]:
    """EVERY file whose footer declares a bbox must actually contain its
    data (reference: core/validate.py:778-819 runs per file; checking only
    the first file misses corrupt partitions).  Uses the covering column's
    row-group statistics — footer-only, no data read."""
    errors: list[str] = []
    cov_col = geo.primary.covering_column
    if cov_col is None:
        return errors
    for f, md in zip(files, footers):
        g = GeoMeta.from_footer(md.metadata)
        if g is None or g.primary.bbox is None:
            continue
        from geoparquet_io_spark.meta import bbox_2d

        bx = bbox_2d(g.primary.bbox)   # 3D footers compare planar parts
        lo_x = lo_y = float("inf")
        hi_x = hi_y = float("-inf")
        have = False
        for rg in range(md.num_row_groups):
            group = md.row_group(rg)
            # column-chunk paths are dotted leaf paths ('bbox.xmin')
            idx = {group.column(i).path_in_schema: i
                   for i in range(group.num_columns)}

            def stat(field, want_min):
                i = idx.get(f"{cov_col}.{field}")
                if i is None:
                    return None
                s = group.column(i).statistics
                if s is None or not s.has_min_max:
                    return None
                return s.min if want_min else s.max

            vals = (stat("xmin", True), stat("ymin", True),
                    stat("xmax", False), stat("ymax", False))
            if any(v is None for v in vals):
                continue
            have = True
            lo_x, lo_y = min(lo_x, vals[0]), min(lo_y, vals[1])
            hi_x, hi_y = max(hi_x, vals[2]), max(hi_y, vals[3])
        if have and (lo_x < bx[0] or lo_y < bx[1] or hi_x > bx[2] or hi_y > bx[3]):
            errors.append(
                f"file {os.path.basename(f)}: footer bbox {bx} does not "
                f"contain its data extent [{lo_x}, {lo_y}, {hi_x}, {hi_y}]")
    return errors


def validate(spark, path: str, sample_rows: int = 10_000) -> list[str]:
    """GeoParquet spec checks on a written file: metadata shape, physical
    schema, covering verification, WKB well-formedness, per-file bbox
    containment, orientation, CRS bounds, data-vs-metadata
    (core/validate.py ported to this engine's data model).

    Driver-side pyarrow throughout; no Spark job (``spark`` is unused).
    The data-vs-metadata checks read the first ``sample_rows`` non-null
    geometries (files in sorted order) and parse each once: marker,
    declared types, footer bbox containment and geographic CRS range."""
    files = dataset_files(path)
    if not files:
        return [f"no parquet files at {path}"]
    errors: list[str] = []
    # informational notices must not GATE the data checks below (an
    # early `if errors: return` on a harmless stray README would skip
    # WKB / bbox / orientation validation entirely)
    notices: list[str] = []
    # dataset_files() only lists *.parquet, so sweep the directory
    # separately for data-looking files the validators would otherwise
    # silently skip, under the same hidden-path rule (_snapshots/,
    # _SUCCESS and dot-files are metadata, not data)
    if os.path.isdir(path):
        stray = []
        for r, dirs, fns in os.walk(path, followlinks=True):
            dirs[:] = [d for d in dirs if not is_hidden(d)]
            stray += [os.path.join(r, fn) for fn in fns
                      if not fn.endswith(".parquet") and not is_hidden(fn)]
        if stray:
            notices.append(
                f"{len(stray)} non-.parquet files in the dataset directory "
                f"are excluded from validation (e.g. "
                f"{os.path.basename(stray[0])!r})")
    elif not path.endswith(".parquet"):
        notices.append("data file lacks the .parquet extension")
    # one footer read per file: dataset geo, schema, per-file bbox,
    # sample, orientation
    footers = read_footers(files)
    schema = footers[0].schema.to_arrow_schema()
    # dataset-level geo: per-file bboxes UNIONED (a single file's footer
    # understates a multi-file dataset's extent)
    geo = footer_geo(len(files), iter(footers))
    if geo is None:
        return notices + ["missing 'geo' footer metadata"]
    errors.extend(geo.validate())
    # physical schema: geometry must be plain binary (not grouped/repeated)
    import pyarrow as pa

    for name in geo.columns:
        if name not in schema.names:
            errors.append(f"geometry column {name!r} missing from schema")
            continue
        f = schema.field(name)
        if not pa.types.is_binary(f.type) and not pa.types.is_large_binary(f.type):
            errors.append(f"geometry column {name!r} is {f.type}, expected binary")
    errors.extend(_check_covering(geo, schema))
    if errors:
        return notices + errors
    gcol = geo.primary_column
    errors, seen, env = _check_wkb_sample(files, footers, gcol, sample_rows)
    if errors:
        # unparseable WKB: downstream data checks can't run
        return notices + errors
    errors.extend(_check_per_file_bboxes(files, footers, geo))
    # data-vs-metadata on the sample: types match, bbox contains data
    declared = set(geo.primary.geometry_types)
    if declared:
        from geoparquet_io_spark.functions import wkb as _wkb

        mapped = {_wkb.TYPE_NAMES[c]: n for c, n in _wkb.GEOPARQUET_NAMES.items()}
        # the sample reports the BASE type; the spec allows declared
        # entries with dimension suffixes ("Polygon Z") — compare bases so
        # a compliant 3D file is not flagged
        declared_base = {t.split(" ")[0] for t in declared}
        undeclared = {mapped.get(t, t) for t in seen} - declared_base
        if undeclared:
            errors.append(f"data contains undeclared geometry types: {sorted(undeclared)}")
    if geo.primary.bbox and env is not None:
        from geoparquet_io_spark.meta import bbox_2d

        bx = bbox_2d(geo.primary.bbox)   # 3D footer: planar containment
        if (env[0] < bx[0] or env[1] < bx[1]
                or env[2] > bx[2] or env[3] > bx[3]):
            errors.append("metadata bbox does not contain the data extent")
    # geographic CRS -> coordinates must stay in lon/lat range
    # (reference: core/validate.py:2093-2120)
    from geoparquet_io_spark.functions import crs as _crs

    if env is not None and _crs.is_geographic(geo.primary.crs or _crs.DEFAULT_CRS):
        xmin, ymin, xmax, ymax = env
        if xmin < -180.0 or xmax > 180.0 or ymin < -90.0 or ymax > 90.0:
            errors.append(
                "coordinates exceed geographic CRS bounds "
                f"([{xmin}, {ymin}, {xmax}, {ymax}] "
                "outside [-180, -90, 180, 90])")
    # declared orientation must match the data: counterclockwise exterior
    # rings have positive shoelace area (reference: core/validate.py:682-778)
    if geo.primary.orientation == "counterclockwise":
        from geoparquet_io_spark.functions import wkb as _wkb

        bad = 0
        for f, md in zip(files, footers):
            with pq.ParquetFile(f, metadata=md) as pf:
                batch = next(pf.iter_batches(batch_size=2048, columns=[gcol]), None)
            if batch is None:
                continue
            for blob in batch.column(0):
                b = blob.as_py()
                if b is None:
                    continue
                try:
                    g = _wkb.parse(bytes(b))
                except (ValueError, IndexError, struct.error) as ex:
                    # past the sample: reported as the sample pass does
                    return notices + errors + [
                        f"column {gcol}: unparseable WKB ({ex})"]
                polys = ([g] if g.gtype == _wkb.POLYGON
                         else (g.children if g.gtype == _wkb.MULTIPOLYGON else []))
                for p in polys:
                    if not p.parts:     # POLYGON EMPTY: no rings to wind
                        continue
                    a, _, _ = _wkb._ring_area_centroid(p.parts[0])
                    if a < 0:
                        bad += 1
        if bad:
            errors.append(
                f"orientation declared counterclockwise but {bad} sampled "
                "exterior rings wind clockwise")
    return notices + errors


def check_fixes(spark, path: str, out_path: str, hilbert: bool = False,
                remove_bbox: bool = False,
                bbox_metadata_only: bool = False) -> list[str]:
    """Re-write applying recommended fixes: zstd recompress, row-group
    resize, add bbox column + covering, optional hilbert re-sort,
    bbox-column REMOVAL, or a metadata-only covering registration
    (reference: core/check_fixes.py:27-318 — fix_compression,
    fix_bbox_column, fix_bbox_metadata, fix_bbox_removal,
    fix_spatial_ordering, fix_row_groups).

    ``remove_bbox``: drop the bbox covering column AND its covering
    metadata — the reference's remedy both for an INVALID bbox column
    (check found values inconsistent with the geometry) and for
    GeoParquet-2.0/geo-native files where row-group statistics replace
    the covering column (core/check_fixes.py:143-208).

    ``bbox_metadata_only``: the existing bbox column is fine but the
    footer never declared it — register the covering in metadata without
    touching the data columns (core/check_fixes.py:118-141).
    """
    import geoparquet_io_spark as gps

    if remove_bbox and bbox_metadata_only:
        raise ValueError("remove_bbox and bbox_metadata_only are exclusive")
    gt = gps.read(spark, path)
    applied = []
    if remove_bbox:
        col = gt.bbox_column
        if col is None:
            # covering undeclared: fall back to the conventional name
            col = "bbox" if "bbox" in gt.df.columns else None
        if col is None:
            raise ValueError(f"no bbox column to remove in {path!r}")
        import copy as _copy

        from geoparquet_io_spark.geotable import GeoTable

        geo = _copy.deepcopy(gt.geo) if gt.geo is not None else None
        if geo is not None and geo.primary is not None:
            geo.ensure_primary().covering = None
        gt = GeoTable(gt.df.drop(col), geo)
        applied.append(f"removed bbox column {col!r} (+covering metadata)")
    elif bbox_metadata_only:
        if "bbox" not in gt.df.columns:
            raise ValueError(
                f"bbox_metadata_only needs an existing bbox column in "
                f"{path!r}")
        # metadata-only = O(footer) per file: copy bytes, patch footers
        # (reference modifies in place, core/check_fixes.py:118-141; a
        # full decompress+re-encode to change metadata would be the
        # wrong cost model at lake scale)
        import shutil

        from geoparquet_io_spark.sources.geoparquet import (
            patch_footer_metadata)

        if hilbert:
            # the metadata-only path never rewrites data pages, so it
            # CANNOT re-sort — returning without the requested re-sort
            # silently dropped it from the applied list
            raise ValueError(
                "hilbert=True cannot combine with bbox_metadata_only "
                "(a footer patch never reorders data pages) — run the "
                "full rewrite instead")
        gt2 = gt.add_bbox_metadata("bbox")
        geo_json = gt2.geo.to_json()
        outs = []
        files = dataset_files(path)   # once — re-listing per file was O(n^2)
        for f in files:
            dst = out_path if len(files) == 1 else os.path.join(
                out_path, os.path.relpath(f, path))
            os.makedirs(os.path.dirname(os.path.abspath(dst)) or ".",
                        exist_ok=True)
            shutil.copy2(f, dst)
            patch_footer_metadata(dst, {b"geo": geo_json.encode()})
            outs.append(dst)
        return [f"registered bbox covering metadata on {len(outs)} "
                f"file(s) (footer patch, data pages untouched)"]
    elif gt.geometry_column and gt.bbox_column is None:
        gt = gt.add_bbox()
        applied.append("added bbox covering column")
    if hilbert:
        gt = gt.sort_hilbert()
        applied.append("hilbert re-sort")
    gt.write(out_path)  # writer defaults: zstd15 + 100k row groups
    applied.append("rewrote with zstd + 100k-row groups")
    return applied


def inspect_summary(path: str) -> dict:
    """Footer-only summary (reference: core/inspect.py:64-247)."""
    files = dataset_files(path)
    if not files:
        # same guard as every sibling check_* function — a typo'd path
        # surfaced as a bare IndexError (opaquely, via STAC generation)
        raise FileNotFoundError(path)
    mds = read_footers(files)
    md = mds[0]
    geo = GeoMeta.from_footer(md.metadata)
    return {
        "files": len(files),
        "rows": sum(m.num_rows for m in mds),
        "columns": md.schema.to_arrow_schema().names,
        # dataset-wide like rows/files — first-file-only misled sizing
        "row_groups": sum(m.num_row_groups for m in mds),
        "geo": None if geo is None else {
            "version": geo.version,
            "primary_column": geo.primary_column,
            "geometry_types": geo.primary.geometry_types,
            "crs": geo.primary.crs,
            "covering": geo.primary.covering,
            "bbox": geo.primary.bbox,
        },
        "created_by": md.created_by,
    }


def _wkt_preview(gt, df, max_wkt_chars: int):
    from geoparquet_io_spark.functions import geom as G

    g = gt.geometry_column
    if g:
        df = df.withColumn(
            g,
            F.substring(G.st_astext(F.col(g)), 1, max_wkt_chars),
        )
    return df


def inspect_head(spark, path: str, n: int = 10, max_wkt_chars: int = 60):
    """Preview rows with WKT-truncated geometry display
    (reference: core/inspect_utils.py:473-517)."""
    import geoparquet_io_spark as gps

    gt = gps.read(spark, path)
    return _wkt_preview(gt, gt.df.limit(n), max_wkt_chars)


def inspect_tail(spark, path: str, n: int = 10, max_wkt_chars: int = 60):
    """Last n rows (reference: api/table.py:1426-1471 tail slice)."""
    import geoparquet_io_spark as gps

    gt = gps.read(spark, path)
    tail_gt = gt.tail(n)
    return _wkt_preview(gt, tail_gt.df, max_wkt_chars)


# ---------------------------------------------------------------------------
# granular checks (reference: check row-group / compression / bbox,
# core/check_parquet_structure.py:120,444, core/common.py:3346)
# ---------------------------------------------------------------------------

# the reference's row-group sizing guidance: 64-256 MB compressed per group
ROW_GROUP_MIN_MB = 64
ROW_GROUP_MAX_MB = 256


def check_row_groups(path: str) -> dict:
    """Per-file row-group sizing vs the 64-256 MB / 10k-200k-row guidance
    (reference: core/check_parquet_structure.py:120-214)."""
    files = dataset_files(path)
    if not files:
        raise FileNotFoundError(path)
    out_files = []
    issues: list[str] = []
    for f, md in zip(files, read_footers(files)):
        groups = []
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            comp_bytes = sum(rg.column(c).total_compressed_size
                             for c in range(rg.num_columns))
            groups.append({"rows": rg.num_rows,
                           "compressed_mb": round(comp_bytes / 2**20, 3)})
        sizes = [g["compressed_mb"] for g in groups]
        rows = [g["rows"] for g in groups]
        rec = {
            "file": f,
            "num_row_groups": md.num_row_groups,
            "rows": md.num_rows,
            "groups": groups,
        }
        out_files.append(rec)
        # last group may be a remainder — judge all but the last on size
        body = sizes[:-1] if len(sizes) > 1 else sizes
        if rows and max(rows) > ROW_GROUP_MAX_ROWS:
            issues.append(f"{f}: row group has {max(rows)} rows "
                          f"> {ROW_GROUP_MAX_ROWS}")
        if body and max(body) > ROW_GROUP_MAX_MB:
            issues.append(f"{f}: row group {max(body):.1f} MB "
                          f"> {ROW_GROUP_MAX_MB} MB guidance")
        if len(sizes) > 1 and body and min(body) < 1.0:
            issues.append(f"{f}: many tiny row groups (min {min(body):.2f} MB)")
    return {"files": out_files, "issues": issues,
            "fix_available": bool(issues), "ok": not issues}


def check_compression(path: str) -> dict:
    """Per-column codec report; flags non-ZSTD geometry columns
    (reference: core/check_parquet_structure.py:444-530)."""
    files = dataset_files(path)
    if not files:
        raise FileNotFoundError(path)
    footers = read_footers(files)
    geo = GeoMeta.from_footer(footers[0].metadata)
    geom_cols = set(geo.columns) if geo else set()
    codecs: dict[str, set] = {}
    for md in footers:
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            for c in range(rg.num_columns):
                col = rg.column(c)
                codecs.setdefault(col.path_in_schema, set()).add(col.compression)
    issues = []
    for col, cs in sorted(codecs.items()):
        base = col.split(".", 1)[0]
        if base in geom_cols and cs - {RECOMMENDED_CODEC}:
            issues.append(
                f"geometry column {col!r} uses {sorted(cs)} "
                f"(recommended: {RECOMMENDED_CODEC})")
    other = {c for col, cs in codecs.items()
             for c in cs if col.split('.', 1)[0] not in geom_cols}
    return {
        "columns": {k: sorted(v) for k, v in codecs.items()},
        "geometry_columns": sorted(geom_cols),
        "other_codecs": sorted(other),
        "issues": issues,
        "fix_available": bool(issues),
        "ok": not issues,
    }


def file_bounds_from_metadata(f: str, bbox_column: str = "bbox"
                              ) -> tuple[float, float, float, float] | None:
    """One file's envelope WITHOUT reading row data.

    Priority: the footer ``geo`` bbox (exact when the file was written
    with per-file bbox stamping), else the parquet row-group statistics
    of a bbox covering struct (min over ``bbox.xmin`` stats, etc. —
    exact, since plain-encoded doubles always carry min/max).  Returns
    None when neither source exists — the caller must fall back to a
    data scan.
    """
    return _footer_bounds(pq.read_metadata(f), bbox_column)


def _footer_bounds(md, bbox_column: str
                   ) -> tuple[float, float, float, float] | None:
    """:func:`file_bounds_from_metadata` from an already-read footer."""
    from geoparquet_io_spark.meta import bbox_2d

    g = GeoMeta.from_footer(md.metadata)
    if g is not None and g.primary.bbox:
        return bbox_2d(g.primary.bbox)
    if md.num_rows == 0:
        return None
    want = {f"{bbox_column}.{p}": p for p in ("xmin", "ymin", "xmax", "ymax")}
    acc: dict[str, float] = {}
    idx = {md.row_group(0).column(j).path_in_schema: j
           for j in range(md.num_columns)} if md.num_row_groups else {}
    if not all(k in idx for k in want):
        return None
    for i in range(md.num_row_groups):
        rg = md.row_group(i)
        for path_name, part in want.items():
            st = rg.column(idx[path_name]).statistics
            if st is None or not st.has_min_max:
                return None
            if part in ("xmin", "ymin"):
                v = float(st.min)
                acc[part] = min(acc.get(part, v), v)
            else:
                v = float(st.max)
                acc[part] = max(acc.get(part, v), v)
    return (acc["xmin"], acc["ymin"], acc["xmax"], acc["ymax"])


def bounds_from_metadata(spark, path: str, bbox_column: str = "bbox"
                         ) -> tuple[float, float, float, float] | None:
    """Dataset envelope in O(footers) — no row data is read.

    At 100 TB the bounds pre-pass for a Hilbert/quadkey sort is a full
    column scan if done as an aggregate; this reads each file's footer
    once instead (per-file ``geo`` bbox or bbox-struct row-group
    statistics) and unions them, on the driver with no Spark job
    (``spark`` is unused).  Returns None (caller falls back to
    ``stats.bounds``) if ANY non-empty file lacks metadata bounds — a
    partial union would silently under-report the envelope.

    Reference: the O(1) footer row-count rule (core/duckdb_metadata.py)
    applied to extents.
    """
    files = dataset_files(path)
    if not files:
        raise FileNotFoundError(path)
    # empty files have no extent: skip, don't fail the union
    boxes = [_footer_bounds(md, bbox_column)
             for md in read_footers(files) if md.num_rows]
    if not boxes or any(b is None for b in boxes):
        return None
    return (min(b[0] for b in boxes), min(b[1] for b in boxes),
            max(b[2] for b in boxes), max(b[3] for b in boxes))


def check_bbox(path: str) -> dict:
    """Bbox covering assessment: covering metadata present, its struct
    exists and is well-formed, and (spot check) struct values agree with
    the geometry (reference: core/common.py:3346-3420)."""
    files = dataset_files(path)
    if not files:
        raise FileNotFoundError(path)
    schema = pq.read_schema(files[0])
    geo = GeoMeta.from_footer(schema.metadata)
    if geo is None:
        return {"has_geo": False, "has_covering": False,
                "issues": ["no geo footer metadata"], "ok": False}
    issues = _check_covering(geo, schema)
    has_cov = bool(geo.primary.covering)
    if not has_cov:
        issues.append("no bbox covering metadata (fast-path scans disabled)")
    return {"has_geo": True, "has_covering": has_cov,
            "version": geo.version, "issues": issues, "ok": not issues}


def estimate_row_group_rows(
    df,
    target_mb: float = 128.0,
    sample_rows: int = 10_000,
    compression: str = "zstd",
    compression_level: int = 3,
) -> int:
    """MB -> rows estimation for row-group sizing: encode a bounded sample
    with the real writer settings, measure compressed bytes/row, and size
    groups to ``target_mb`` clamped into the 10k-200k-row guidance window
    (reference: core/common.py:1705,2610 targets 64-256 MB per group the
    same way).  Driver cost is one bounded sample."""
    import io as _io

    sample = df.limit(sample_rows).toArrow()
    if sample.num_rows == 0:
        from geoparquet_io_spark.sources.geoparquet import DEFAULT_ROW_GROUP_ROWS

        return DEFAULT_ROW_GROUP_ROWS
    buf = _io.BytesIO()
    pq.write_table(sample, buf, compression=compression,
                   compression_level=compression_level)
    bytes_per_row = max(buf.getbuffer().nbytes / sample.num_rows, 1e-6)
    rows = int(target_mb * 2**20 / bytes_per_row)
    return max(ROW_GROUP_MIN_ROWS, min(ROW_GROUP_MAX_ROWS, rows))


def fix_compression(path: str, out_path: str,
                    compression: str = "zstd",
                    compression_level: int = 15) -> dict:
    """Single-file recompress preserving ALL footer metadata (geo
    included) — the fix behind ``check compression --fix`` (reference:
    core/check_fixes.py fix_compression).  Driver-side pyarrow rewrite,
    same as the reference's single-file path."""
    files = dataset_files(path)
    if len(files) != 1:
        raise ValueError("fix_compression operates on a single file")
    t = pq.read_table(files[0])
    md = pq.read_metadata(files[0])
    groups = [md.row_group(i).num_rows for i in range(md.num_row_groups)]
    pq.write_table(t, out_path, compression=compression,
                   compression_level=compression_level,
                   row_group_size=max(groups) if groups else None)
    return {"output": out_path, "compression": compression.upper(),
            "rows": t.num_rows}


def fix_row_groups(path: str, out_path: str,
                   target_mb: float = 128.0) -> dict:
    """Single-file row-group resize to the 64-256 MB guidance: bytes/row
    measured from the EXISTING file's compressed size (no sampling
    needed), clamped to the 10k-200k-row window (reference:
    core/check_fixes.py fix_row_groups)."""
    files = dataset_files(path)
    if len(files) != 1:
        raise ValueError("fix_row_groups operates on a single file")
    md = pq.read_metadata(files[0])
    comp_bytes = sum(
        md.row_group(g).column(c).total_compressed_size
        for g in range(md.num_row_groups)
        for c in range(md.row_group(g).num_columns))
    bytes_per_row = max(comp_bytes / max(md.num_rows, 1), 1e-6)
    rows = int(target_mb * 2**20 / bytes_per_row)
    rows = max(ROW_GROUP_MIN_ROWS, min(ROW_GROUP_MAX_ROWS, rows))
    t = pq.read_table(files[0])
    # keep the original codec of the first column chunk
    codec = md.row_group(0).column(0).compression.lower() \
        if md.num_row_groups else "zstd"
    if codec == "uncompressed":
        codec = "none"
    pq.write_table(t, out_path, compression=codec, row_group_size=rows)
    return {"output": out_path, "row_group_rows": rows,
            "rows": t.num_rows}


def check_bloom_filters(spark, path: str) -> dict:
    """Report which columns carry parquet bloom filters, per file/row
    group — via parquet-mr's ParquetFileReader on the driver JVM (the
    only bloom-aware reader in this stack; pyarrow 16 exposes none).
    Footer + bloom-header reads only, no Spark job.  Returns
    {ok, files: [{file, row_groups: [{columns: {name: bitset_bytes}}]}],
    columns_with_bloom} — ``ok`` means at least one bloom present."""
    files = dataset_files(path)
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    out_files = []
    with_bloom: set[str] = set()
    for f in files:
        inf = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            jvm.org.apache.hadoop.fs.Path(f), conf)
        rd = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(inf)
        try:
            blocks = rd.getFooter().getBlocks()
            rgs = []
            for bi in range(blocks.size()):
                block = blocks.get(bi)
                cols = block.getColumns()
                bfr = rd.getBloomFilterDataReader(block)
                colmap = {}
                for ci in range(cols.size()):
                    cmd = cols.get(ci)
                    name = ".".join(cmd.getPath().toArray())
                    bf = bfr.readBloomFilter(cmd)
                    if bf is not None:
                        colmap[name] = int(bf.getBitsetSize())
                        with_bloom.add(name)
                rgs.append({"columns": colmap})
            out_files.append({"file": f, "row_groups": rgs})
        finally:
            rd.close()
    return {
        "ok": bool(with_bloom),
        "columns_with_bloom": sorted(with_bloom),
        "files": out_files,
    }
