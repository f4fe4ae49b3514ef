"""GeoTable — fluent, LAZY wrapper over DataFrame + geo metadata.

Mirror of the reference's ``Table`` (api/table.py:377-404) with one
architectural difference: the reference materializes an Arrow table per
method call; here every method just extends the Spark logical plan and
metadata sidecar — nothing runs until ``write()``/``collect()`` (this is
the reference's own "Python API keeps data in memory" lesson, README.md:87,
taken to its lazy conclusion).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame

from geoparquet_io_spark.meta import GeoMeta, GeoColumnMeta
from geoparquet_io_spark.functions import crs as _crs


#: sentinel for GeoTable(bbox_column=...): "no covering, and do NOT fall
#: back to a literal 'bbox' column" — "" can never name a real column
NO_BBOX = ""


class GeoTable:
    """Immutable fluent wrapper: every method returns a new GeoTable."""

    def __init__(self, df: DataFrame, geo: GeoMeta | None = None,
                 bbox_column: str | None = None):
        self._df = df
        self._geo = geo
        if bbox_column is None and geo is not None:
            bbox_column = geo.primary.covering_column
        if bbox_column is None and "bbox" in df.columns:
            bbox_column = "bbox"
        # NO_BBOX ("") suppresses both fallbacks: reproject clears the
        # covering on purpose, and the literal-'bbox' fallback would
        # re-adopt a stale OLD-CRS column as the covering (degree-valued
        # bounds against meter geometry — silent unit mixing)
        self._bbox_column = bbox_column if bbox_column in df.columns else None

    # -- plumbing -------------------------------------------------------------

    @property
    def df(self) -> DataFrame:
        return self._df

    @property
    def geo(self) -> GeoMeta | None:
        return self._geo

    @property
    def geometry_column(self) -> str | None:
        if self._geo is None:
            return "geometry" if "geometry" in self._df.columns else None
        return self._geo.primary_column if self._geo.primary_column in self._df.columns else None

    @property
    def bbox_column(self) -> str | None:
        return self._bbox_column

    @property
    def crs(self):
        return self._geo.primary.crs if self._geo else None

    def _wrap(self, df: DataFrame, geo: GeoMeta | None = None,
              bbox_column: str | None = None) -> "GeoTable":
        return GeoTable(df, geo if geo is not None else self._geo,
                        bbox_column if bbox_column is not None else self._bbox_column)

    def pipe(self, *ops: Callable[["GeoTable"], "GeoTable"]) -> "GeoTable":
        """Function composition (reference: api/pipeline.py:31-72)."""
        out = self
        for op in ops:
            out = op(out)
        return out

    def persist(self, storage_level: str | None = None) -> "GeoTable":
        """Pin the current rows in executor storage (Spark persist) so a
        multi-branch pipeline (bounds + sort + write, or several
        extracts off one decode) evaluates the upstream plan ONCE — the
        in-memory working style of the reference's Python API.  Default
        MEMORY_AND_DISK spill semantics; pass a StorageLevel name
        ("MEMORY_ONLY", "DISK_ONLY", ...) to override."""
        if storage_level is None:
            df = self._df.persist()
        else:
            from pyspark import StorageLevel

            df = self._df.persist(getattr(StorageLevel, storage_level))
        return self._wrap(df)

    def unpersist(self) -> "GeoTable":
        """Release storage pinned by :meth:`persist`."""
        return self._wrap(self._df.unpersist())

    # -- extract (SURVEY 2.3) ---------------------------------------------------

    def extract(self, columns=None, exclude_columns=None, bbox=None,
                geometry=None, where=None, limit=None) -> "GeoTable":
        from geoparquet_io_spark.operators.extract import extract as _extract

        df = _extract(
            self._df,
            geometry_column=self.geometry_column,
            bbox_column=self._bbox_column,
            columns=columns,
            exclude_columns=exclude_columns,
            bbox=bbox,
            geometry_wkt=geometry,
            where=where,
            limit=limit,
            crs=self.crs,
        )
        geo = self._geo
        g = self.geometry_column
        if geo is not None and g is not None and g not in df.columns:
            # the projection dropped the geometry column: keeping the
            # metadata would make write() stamp a footer whose
            # primary_column doesn't exist in the file
            geo = None
        if (geo is not None and self._bbox_column is not None
                and self._bbox_column not in df.columns):
            # the projection dropped the COVERING column: a footer whose
            # covering references a nonexistent column is spec-invalid
            # (validate() flags it; external covering-aware readers break)
            geo = geo.copy()
            geo.clear_covering()
        return GeoTable(df, geo, bbox_column=self._bbox_column)

    def head(self, n: int = 10) -> "GeoTable":
        return self._wrap(self._df.limit(n))

    def tail(self, n: int = 10) -> "GeoTable":
        rows = self._df.tail(n)
        return self._wrap(self._df.sparkSession.createDataFrame(rows, self._df.schema))

    # -- add columns (SURVEY 2.9) ------------------------------------------------

    def add_bbox(self, force: bool = False, column: str = "bbox") -> "GeoTable":
        from geoparquet_io_spark.operators.add_columns import add_bbox

        df = add_bbox(self._df, self.geometry_column, column, force)
        geo = self._geo
        if geo is not None:
            geo = geo.copy()
            geo.set_covering(column)
        elif self.geometry_column is not None:
            # no metadata yet: create it, like add_bbox_metadata does —
            # silently skipping covering registration lost the file's
            # GeoParquet identity on write
            geo = GeoMeta(primary_column=self.geometry_column,
                          columns={self.geometry_column: GeoColumnMeta()})
            geo.set_covering(column)
        return GeoTable(df, geo, bbox_column=column)

    def add_bbox_metadata(self, column: str = "bbox") -> "GeoTable":
        """Metadata-only covering registration (core/add_bbox_metadata.py)."""
        if column not in self._df.columns:
            raise ValueError(f"bbox column {column!r} not present")
        geo = self._geo.copy() if self._geo else GeoMeta()
        geo.set_covering(column)
        return GeoTable(self._df, geo, bbox_column=column)

    def simplify(self, tolerance: float) -> "GeoTable":
        """Douglas-Peucker-simplify the geometry column in place
        (functions/wkb.py:simplify; bbox covering stays valid — a DP
        subset never exceeds the original envelope, it can only shrink,
        and covering bboxes are allowed to over-cover per the spec)."""
        from pyspark.sql import functions as F

        from geoparquet_io_spark.functions import geom as G

        g = self.geometry_column
        if g is None:
            raise ValueError("simplify requires a geometry column")
        return self._wrap(self._df.withColumn(
            g, G.st_simplify(F.col(g), tolerance)))

    def convex_hull(self, column: str = "hull") -> "GeoTable":
        """Add the convex hull of each geometry as a new WKB column."""
        from pyspark.sql import functions as F

        from geoparquet_io_spark.functions import geom as G

        g = self.geometry_column
        if g is None:
            raise ValueError("convex_hull requires a geometry column")
        return self._wrap(self._df.withColumn(column, G.st_convexhull(F.col(g))))

    def add_quadkey(self, zoom: int = 13, column: str = "quadkey") -> "GeoTable":
        from geoparquet_io_spark.operators.add_columns import add_quadkey

        df = add_quadkey(self._df, self.geometry_column, self._bbox_column,
                         zoom, column, crs=self.crs)
        return self._wrap(df)

    def add_h3(self, resolution: int = 8, column: str = "h3") -> "GeoTable":
        from geoparquet_io_spark.operators.add_columns import add_h3

        df = add_h3(self._df, self.geometry_column, self._bbox_column,
                    resolution, column, crs=self.crs)
        return self._wrap(df)

    def add_kdtree(self, iterations: int = 4, column: str = "kdtree_cell",
                   **kw) -> "GeoTable":
        from geoparquet_io_spark.operators.add_columns import add_kdtree

        df = add_kdtree(self._df, self.geometry_column, self._bbox_column,
                        iterations=iterations, column=column, **kw)
        return self._wrap(df)

    def add_admin_divisions(self, admin="countries", levels=("country",),
                            prefix: str = "admin:",
                            admin_source: str | None = None) -> "GeoTable":
        """``admin`` is a GeoTable, or a catalog name ('countries', 'gaul',
        'overture-divisions') resolved via sources/admin_catalog.py
        (reference: core/admin_datasets.py factory)."""
        from geoparquet_io_spark.operators.joins import add_admin_divisions
        from geoparquet_io_spark.sources.admin_catalog import resolve_admin

        admin = resolve_admin(self._df.sparkSession, admin, source=admin_source)
        df = add_admin_divisions(
            self._df, self.geometry_column, self._bbox_column,
            admin._df, admin.geometry_column, admin._bbox_column,
            levels=list(levels), prefix=prefix,
        )
        return self._wrap(df)

    def reproject(self, dst, src=None, transformer=None) -> "GeoTable":
        from geoparquet_io_spark.operators.add_columns import reproject

        src = src if src is not None else (self.crs or "EPSG:4326")
        df = reproject(self._df, self.geometry_column, src, dst, transformer)
        # a bbox covering column holds OLD-CRS values after the
        # transform: every downstream consumer (bbox fast path, quadkey/
        # hilbert keys, footer bbox recompute) would silently mix units.
        # Drop it and clear the covering; call add_bbox() to rebuild.
        if self._bbox_column is not None and self._bbox_column in df.columns:
            df = df.drop(self._bbox_column)
        geo = self._geo.copy() if self._geo else GeoMeta(
            primary_column=self.geometry_column or "geometry",
            columns={self.geometry_column or "geometry": GeoColumnMeta()},
        )
        geo.clear_covering()
        if isinstance(dst, dict) and "family" in dst:
            # parameterized target (projections.proj_from_params): the
            # spec MUST carry a "crs" label for the output metadata —
            # in GeoParquet, crs=None means OGC:CRS84, so leaving it
            # unset would advertise lon/lat for meter-valued output and
            # a later reproject would silently transform garbage
            label = dst.get("crs")
            if label is None:
                raise ValueError(
                    "reproject(dst={'family': ...}) needs a 'crs' key "
                    "naming the target CRS for the output metadata "
                    "(e.g. {'crs': 'EPSG:31287', ...}) — without it the "
                    "written file would claim OGC:CRS84")
            geo.ensure_primary().crs = label
        else:
            geo.ensure_primary().crs = _crs.normalize_crs(dst)
        geo.ensure_primary().bbox = None  # stale after transform
        return GeoTable(df, geo, bbox_column=NO_BBOX)

    # -- sorts (SURVEY 2.7) --------------------------------------------------------

    def sort_hilbert(self, keep_key: bool = False,
                     env: tuple[float, float, float, float] | None = None,
                     ) -> "GeoTable":
        from geoparquet_io_spark.operators.sorts import sort_hilbert

        return self._wrap(sort_hilbert(self._df, self.geometry_column,
                                       self._bbox_column, keep_key=keep_key,
                                       env=env))

    def sort_zorder(self, order: int = 16, keep_key: bool = False) -> "GeoTable":
        from geoparquet_io_spark.operators.sorts import sort_zorder

        return self._wrap(sort_zorder(self._df, self.geometry_column,
                                      self._bbox_column, order=order,
                                      keep_key=keep_key))

    def sort_column(self, columns, descending=None) -> "GeoTable":
        from geoparquet_io_spark.operators.sorts import sort_column

        return self._wrap(sort_column(self._df, columns, descending))

    def sort_quadkey(self, zoom: int = 13, keep_column: bool = False) -> "GeoTable":
        from geoparquet_io_spark.operators.sorts import sort_quadkey

        return self._wrap(sort_quadkey(self._df, self.geometry_column,
                                       self._bbox_column, zoom, keep_column))

    # -- aggregates / checks (SURVEY 2.5, 2.14) --------------------------------------

    def bounds(self) -> tuple[float, float, float, float]:
        from geoparquet_io_spark.operators.stats import bounds

        return bounds(self._df, self.geometry_column, self._bbox_column)

    def stats(self, approx: bool = True) -> DataFrame:
        from geoparquet_io_spark.operators.stats import stats

        geo_cols = set(self._geo.columns) if self._geo else set()
        return stats(self._df, geo_cols, approx)

    def count(self) -> int:
        return self._df.count()

    def check_spatial_order(self, **kw) -> dict:
        from geoparquet_io_spark.operators.stats import check_spatial_order

        return check_spatial_order(self._df, self.geometry_column,
                                   self._bbox_column, **kw)

    # -- write (SURVEY 2.2, 2.10) -----------------------------------------------------

    def write(self, path: str, partition_by=None, update_metadata: bool = True,
              **kw) -> list[str]:
        """Write through :func:`sources.geoparquet.write`; starts no
        Spark job besides the write's own.  Each file's footer describes
        the rows written to it: its ``geometry_types`` and, from this
        table's bbox column (``per_file_bbox`` by default), its bbox —
        not the input's.  ``update_metadata=False`` stamps ``geo``
        exactly as it is."""
        from geoparquet_io_spark.sources.geoparquet import write

        if update_metadata and self._geo is not None and self._bbox_column:
            kw.setdefault("per_file_bbox", self._bbox_column)
        return write(self._df, path, self._geo, partition_by=partition_by,
                     update_metadata=update_metadata, **kw)

    def to_file(self, path: str, **kw):
        """Write to ANY supported container by extension — GeoPackage /
        Shapefile / FlatGeobuf / GeoJSON / GeoJSONSeq / CSV, or
        GeoParquet for anything else (the fluent counterpart of the
        reference's convert sink dispatch, core/format_writers.py)."""
        low = path.lower()
        if low.endswith(".csv"):
            from geoparquet_io_spark.sources.csv_geo import write_csv

            return write_csv(self, path, **kw)
        if low.endswith((".geojsonl", ".ndjson", ".geojsons")):
            from geoparquet_io_spark.sources.geojson import write_geojsonl

            return write_geojsonl(self, path, **kw)
        if low.endswith(".geojson"):
            from geoparquet_io_spark.sources.geojson import write_geojson

            return write_geojson(self, path, **kw)
        if low.endswith((".gpkg", ".shp", ".fgb")):
            from geoparquet_io_spark.sources.gdal_formats import write_gdal

            return write_gdal(self, path, **kw)
        return self.write(path, **kw)

    def clip_to_grid(self, cell_size: float,
                     origin: tuple[float, float] = (0.0, 0.0),
                     **kw) -> "GeoTable":
        """Tile the geometries into a regular grid
        (operators/tiling.py:clip_to_grid); returns a GeoTable with
        cell_x/cell_y columns — partition the write by them for
        per-tile files."""
        from geoparquet_io_spark.operators.tiling import clip_to_grid

        df = clip_to_grid(self._df, cell_size, origin=origin,
                          geometry_column=self.geometry_column, **kw)
        return self._wrap(df)

    def partition_by_string(self, column: str, path: str, chars: int | None = None,
                            skip_analysis: bool = False, **kw) -> list[str]:
        from geoparquet_io_spark.operators.partition import partition_by_string

        return partition_by_string(self, column, path, chars, skip_analysis, **kw)

    def partition_by_quadkey(self, path: str, partition_resolution: int = 9,
                             **kw) -> list[str]:
        from geoparquet_io_spark.operators.partition import partition_by_quadkey

        return partition_by_quadkey(self, path, partition_resolution, **kw)

    def partition_by_h3(self, path: str, resolution: int = 8, **kw) -> list[str]:
        from geoparquet_io_spark.operators.partition import partition_by_h3

        return partition_by_h3(self, path, resolution, **kw)

    def partition_by_kdtree(self, path: str, iterations: int = 4, **kw) -> list[str]:
        from geoparquet_io_spark.operators.partition import partition_by_kdtree

        return partition_by_kdtree(self, path, iterations, **kw)

    # -- training-data operators (BASELINE.json north star) ------------------------

    def dedup_exact(self, columns=None, key_column=None) -> "GeoTable":
        from geoparquet_io_spark.operators.dedup import dedup_exact

        return self._wrap(dedup_exact(self._df, columns, key_column))

    def dedup_minhash(self, id_column: str, text_column: str = "text",
                      **kw) -> "GeoTable":
        from geoparquet_io_spark.operators.dedup import dedup_minhash

        return self._wrap(dedup_minhash(self._df, id_column, text_column, **kw))

    def add_simhash(self, text_column: str = "text", **kw) -> "GeoTable":
        from geoparquet_io_spark.operators.dedup import add_simhash

        return self._wrap(add_simhash(self._df, text_column, **kw))

    def quality_features(self, text_column: str = "text") -> "GeoTable":
        from geoparquet_io_spark.operators.text import quality_features

        return self._wrap(quality_features(self._df, text_column))

    def language_id(self, text_column: str = "text", **kw) -> "GeoTable":
        from geoparquet_io_spark.operators.text import language_id

        return self._wrap(language_id(self._df, text_column, **kw))

    def fingerprint(self, text_column: str = "text", **kw) -> "GeoTable":
        from geoparquet_io_spark.operators.text import fingerprint

        return self._wrap(fingerprint(self._df, text_column, **kw))

    # -- format sinks (SURVEY 2.2) -------------------------------------------------

    def write_csv(self, path: str, **kw) -> None:
        from geoparquet_io_spark.sources.csv_geo import write_csv

        write_csv(self, path, **kw)

    def write_geojson(self, path: str, **kw) -> None:
        from geoparquet_io_spark.sources.geojson import write_geojson

        write_geojson(self, path, **kw)

    def write_stac_item(self, path: str, **kw) -> dict:
        """Write this table to ``path`` then describe the WRITTEN file
        as a STAC item.  (The previous ``to_stac_item`` inspected
        whatever already sat at ``path``, ignoring the table entirely —
        a misleading instance method; for describing an existing file
        use ``sources.stac.generate_stac_item(path)`` directly.)"""
        from geoparquet_io_spark.sources.stac import generate_stac_item

        write_kw = kw.pop("write_kwargs", {})
        self.write(path, **write_kw)
        return generate_stac_item(path, **kw)

    # -- plan inspection -----------------------------------------------------------

    def explain_summary(self) -> dict:
        """Pushdown/pruning/join/codegen summary of the current plan
        (see geoparquet_io_spark.plans)."""
        from geoparquet_io_spark.plans import plan_summary

        return plan_summary(self._df)
