"""The workloads: inputs and truth (benchmark process), the chain of
public calls and its output checks (program process).

A workload is a class with:

- ``prepare(seed, indir)``: write the inputs under ``indir`` from the seed
  and return the truth as a JSON-able dict (numpy/pyarrow only);
- ``iteration(spark, truth)``: one timed pass of the public calls, writing
  under ``truth["outdir"]`` and returning what the checks need;
- ``check(out, truth)``: ``[(check name, ok), ...]``, read from the files
  with pyarrow, never through Spark;
- ``chain(spark, truth)``: the lazy GeoTable prefix steps that are timed
  through the ``noop`` sink in the traced run, as ``[(layer, step), ...]``;
- ``sink``: the layer of the eager call that ends the chain inside
  ``iteration``, whose self time is the iteration minus the last prefix,
  or None.
"""

from __future__ import annotations

import json
import os

import pyarrow.parquet as pq

from gen import Polygons

#: geometry tolerance for footer bboxes that passed through float64 text
TOL = 1e-9


def _footer_geo(f: str) -> dict:
    raw = (pq.read_schema(f).metadata or {}).get(b"geo")
    return json.loads(raw) if raw else {}


def _close(a, b) -> bool:
    return a is not None and b is not None and len(a) >= 4 and \
        all(abs(x - y) <= TOL for x, y in zip(a[:4], b[:4]))


def _contains(outer, inner) -> bool:
    return outer is not None and len(outer) >= 4 and \
        outer[0] <= inner[0] + TOL and outer[1] <= inner[1] + TOL and \
        outer[2] >= inner[2] - TOL and outer[3] >= inner[3] - TOL


def _footer_checks(files: list[str], rows: int, bounds: list[float],
                   input_bounds: list[float] | None = None) -> list[tuple[str, bool]]:
    """Footer ``geo`` of every written file: primary column, Polygon type,
    summed row count, and the bbox against numpy.

    Per-file footers (``input_bounds`` None) must union to exactly
    ``bounds``. A single dataset-wide footer must enclose ``bounds`` (the
    rows written) and lie inside ``input_bounds``: that is the rule the
    reference validator applies, and it accepts both a bbox carried over
    from the input and one recomputed from the rows written.
    """
    geos = [_footer_geo(f) for f in files]
    cols = [g.get("columns", {}).get(g.get("primary_column"), {}) for g in geos]
    boxes = [c.get("bbox") for c in cols]
    out = [("files_written", bool(files)),
           ("primary_column", all(g.get("primary_column") == "geometry" for g in geos)),
           ("geometry_types", all(c.get("geometry_types") == ["Polygon"] for c in cols)),
           ("rows", sum(pq.ParquetFile(f).metadata.num_rows for f in files) == rows)]
    if input_bounds is None:
        union = None
        if boxes and all(b is not None for b in boxes):
            union = [min(b[0] for b in boxes), min(b[1] for b in boxes),
                     max(b[2] for b in boxes), max(b[3] for b in boxes)]
        out.append(("footer_bbox", _close(union, bounds)))
    else:
        out.append(("footer_bbox", all(_contains(b, bounds) and _contains(input_bounds, b)
                                       for b in boxes)))
    return out


class EtlPolygons:
    """read -> extract(bbox) on the exact path -> add_bbox -> sort_hilbert
    -> directory write, on polygons without a covering column."""

    rows = 2_000
    keep = 0.5
    sink = "geotable.write"

    def prepare(self, seed: int, indir: str) -> dict:
        p = Polygons(seed, self.rows)
        path = os.path.join(indir, "polygons.parquet")
        size = p.write(path, with_bbox=False)
        box = p.query_box(seed, self.keep)
        hit = p.exact_hits(box)
        return {"input": path, "input_rows": self.rows, "input_bytes": size,
                "box": box, "rows_out": int(hit.sum()), "bounds_out": p.bounds(hit),
                "bounds": p.bounds()}

    def chain(self, spark, truth: dict):
        from geoparquet_io_spark.sources import geoparquet as gp

        return [("sources.geoparquet.read", lambda _: gp.read(spark, truth["input"])),
                ("operators.extract", lambda gt: gt.extract(bbox=truth["box"])),
                ("operators.add_columns.add_bbox", lambda gt: gt.add_bbox()),
                ("operators.sorts.sort_hilbert", lambda gt: gt.sort_hilbert())]

    def iteration(self, spark, truth: dict) -> dict:
        gt = None
        for _, step in self.chain(spark, truth):
            gt = step(gt)
        files = gt.write(os.path.join(truth["outdir"], "etl"))
        return {"files": files}

    def check(self, out: dict, truth: dict):
        return _footer_checks(out["files"], truth["rows_out"], truth["bounds_out"],
                              input_bounds=truth["bounds"])


class PartitionInspect:
    """partition_by_quadkey (preflight analysis on, force=True) ->
    read_partition -> covering fast-path extract -> count, then the footer
    checks of ``operators.inspect_check`` over the hive dataset just
    written, on clustered polygons that already carry a bbox covering."""

    rows = 10_000
    keep = 0.3
    resolution = 2
    sink = None

    def prepare(self, seed: int, indir: str) -> dict:
        p = Polygons(seed, self.rows, clusters=30)
        path = os.path.join(indir, "polygons_bbox.parquet")
        size = p.write(path, with_bbox=True)
        box = p.query_box(seed, self.keep)
        return {"input": path, "input_rows": self.rows, "input_bytes": size,
                "box": box, "rows_out": int(p.envelope_hits(box).sum()),
                "bounds": p.bounds()}

    @staticmethod
    def dataset(truth: dict) -> str:
        return os.path.join(truth["outdir"], "by_quadkey")

    def chain(self, spark, truth: dict):
        from geoparquet_io_spark.sources import geoparquet as gp

        return [("sources.geoparquet.read_partition",
                 lambda _: gp.read_partition(spark, self.dataset(truth))),
                ("operators.extract", lambda gt: gt.extract(bbox=truth["box"]))]

    def iteration(self, spark, truth: dict) -> dict:
        from geoparquet_io_spark.operators import inspect_check as ic
        from geoparquet_io_spark.sources import geoparquet as gp

        path = self.dataset(truth)
        files = gp.read(spark, truth["input"]).partition_by_quadkey(
            path, partition_resolution=self.resolution, force=True)
        gt = None
        for _, step in self.chain(spark, truth):
            gt = step(gt)
        return {"files": files, "count": gt.count(),
                "summary": ic.inspect_summary(path),
                "structure": ic.check_structure(path),
                "bbox": ic.check_bbox(path),
                "bounds": ic.bounds_from_metadata(spark, path),
                "issues": ic.validate(spark, path)}

    def check(self, out: dict, truth: dict):
        s, st = out["summary"], out["structure"]
        geo = s.get("geo") or {}
        return _footer_checks(out["files"], truth["input_rows"], truth["bounds"]) + [
            ("extract_count", out["count"] == truth["rows_out"]),
            ("summary_rows", s["rows"] == truth["input_rows"]),
            ("summary_files", s["files"] == len(out["files"])),
            ("summary_geo", geo.get("primary_column") == "geometry"
             and geo.get("geometry_types") == ["Polygon"]),
            ("structure_rows", st.total_rows == truth["input_rows"]),
            ("structure_geo", st.has_geo_metadata and st.has_bbox_covering),
            ("check_bbox", out["bbox"]["ok"] is True),
            ("bounds_from_metadata", _close(out["bounds"], truth["bounds"])),
            ("validate", out["issues"] == [])]


WORKLOADS = {"etl_polygons": EtlPolygons,
             "partition_inspect": PartitionInspect}
