"""GeoParquet read/write for Spark.

Reference behavior: read at api/table.py:166-236 (+ partition_reader),
write strategies at core/common.py:2960-3118 / core/write_strategies/.
Spark's parquet writer cannot emit custom footer key-value metadata, so
the write path here runs pyarrow ``ParquetWriter``s INSIDE executors via
``mapInPandas`` — one pass, no driver materialization, footer ``geo``
metadata stamped on every file (SURVEY.md section 7 milestone 2).
"""

from __future__ import annotations

import glob as _glob
import json
import os
import struct
import uuid
from typing import Iterator

import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql import DataFrame, SparkSession

from geoparquet_io_spark.meta import (
    GEOPARQUET_VERSIONS,
    GeoColumnMeta,
    GeoMeta,
    bbox_union,
)

# Reference best-practice write defaults (core/common.py:70-110):
# ZSTD level 15, 100k-row row groups, stats+dictionary on.
DEFAULT_COMPRESSION = "zstd"
DEFAULT_COMPRESSION_LEVEL = 15
DEFAULT_ROW_GROUP_ROWS = 100_000


def native_geo_types_supported() -> bool:
    """True when the runtime pyarrow can annotate parquet columns with
    the native GEOMETRY/GEOGRAPHY logical types (Arrow >= 19's
    ``pa.geometry``/``pa.geography`` — the GeoParquet 2.0 parquet-level
    mapping).  pyarrow 16.x in this container cannot; callers fall back
    to the GeoArrow extension mapping + 2.0 footer JSON."""
    return hasattr(pa, "geometry") or hasattr(pa, "geometry_type")


def patch_footer_metadata(path: str, updates: dict) -> int:
    """Update a parquet file's key-value footer metadata in O(footer),
    WITHOUT re-encoding any data page: serialize a new FileMetaData
    (same row groups — their absolute offsets are unchanged — plus the
    updated schema metadata) and APPEND it as the new footer.  Parquet
    readers locate the footer from the end of the file, so the old
    footer becomes dead bytes and every reader (pyarrow, DuckDB, Spark)
    sees the new metadata over the untouched pages.

    This is the scale-correct form of a metadata-only fix: on a 100 TB
    lake, stamping bbox/covering/geo metadata must cost footer IO, not
    a full decompress+re-encode of every file.  ``updates`` values of
    ``None`` DELETE the key.  Returns the appended byte count."""
    with pq.ParquetFile(path) as pf:
        md, schema = pf.metadata, pf.schema_arrow
    meta = dict(schema.metadata or {})
    for k, v in updates.items():
        k = k.encode() if isinstance(k, str) else k
        if v is None:
            meta.pop(k, None)
        else:
            meta[k] = v.encode() if isinstance(v, str) else v
    new_schema = schema.with_metadata(meta)
    import tempfile

    with tempfile.NamedTemporaryFile(suffix=".parquet", delete=False) as tf:
        tmp = tf.name
    try:
        pq.write_metadata(new_schema, tmp, metadata_collector=[md])
        raw = open(tmp, "rb").read()
    finally:
        os.unlink(tmp)
    if raw[:4] != b"PAR1":
        raise RuntimeError("write_metadata produced a non-parquet buffer")
    footer = raw[4:]                    # [thrift FileMetaData][len][PAR1]
    with open(path, "ab") as fh:
        fh.write(footer)
    return len(footer)


def is_hidden(name: str) -> bool:
    """Spark's file-index rule for one path component below a dataset
    root: dot-names and ``_``-names without ``=`` (``_snapshots/``,
    ``_deletes/``, ``_SUCCESS``) are not data; ``_c=v`` hive dirs are."""
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


def dataset_files(path: str) -> list[str]:
    """The data files of a dataset, sorted by full path: ``path`` itself
    when it is a file, else every ``*.parquet`` below it that Spark's
    reader would read (no component below ``path`` :func:`is_hidden`).
    The one membership rule for every footer reader, inspect/check,
    maintenance and the empty-write probe."""
    if os.path.isfile(path):
        return [path]
    out = []
    for root, dirs, names in os.walk(path, followlinks=True):
        dirs[:] = [d for d in dirs if not is_hidden(d)]
        out += [os.path.join(root, n) for n in names
                if n.endswith(".parquet") and not is_hidden(n)]
    return sorted(out)


def read_footers(files: list[str]) -> list["pq.FileMetaData"]:
    """Each file's ``FileMetaData``, in order: one footer read per file,
    fanned out on a thread pool (footer reads are I/O-bound)."""
    if len(files) <= 1:
        return [pq.read_metadata(f) for f in files]
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=min(32, len(files))) as ex:
        return list(ex.map(pq.read_metadata, files))


_MAX_UNION_FILES = 1024


def footer_geo(n_files: int, footers) -> GeoMeta | None:
    """Dataset-level geo from an iterator over the ``FileMetaData`` of
    ``n_files`` files in sorted order: the first footer's geo with its
    primary bbox and ``geometry_types`` UNIONED over every file (each
    footer describes only its own file's rows).  An empty types list
    means "unknown", so one such file empties the union.  Past
    ``_MAX_UNION_FILES`` both are CLEARED instead of swept: at a 100 TB
    dataset's file count a driver sweep is minutes of startup latency,
    and an absent stat is honest where a first-file one would understate
    the dataset.  Pulls a second footer from ``footers`` only when a
    union is needed."""
    geo = GeoMeta.from_footer(next(footers).metadata)
    if geo is None or n_files == 1:
        return geo
    # (GeoMeta.primary never returns None — a missing entry yields a
    # detached default with neither stat, returned here untouched)
    p = geo.primary
    bbox, types = p.bbox, set(p.geometry_types)
    if bbox is None and not types:
        return geo
    if n_files > _MAX_UNION_FILES:
        p.bbox, p.geometry_types = None, []
        return geo
    for md in footers:
        g = GeoMeta.from_footer(md.metadata)
        q = g.primary if g is not None else GeoColumnMeta()
        # spec-aware union: 3D+3D keeps Z, mixed projects to 2D — the
        # positional 4-tuple union read a 3D file's zmin as xmax
        bbox = bbox_union(bbox, q.bbox)
        types = types | set(q.geometry_types) if types and q.geometry_types else set()
        if bbox is None and not types:
            break
    p.bbox, p.geometry_types = bbox, sorted(types)
    return geo


def read_footer_geo(path: str | list[str]) -> GeoMeta | None:
    """Driver-side footer metadata read — no Spark job
    (reference reads footers the same way, core/duckdb_metadata.py:61-240):
    :func:`footer_geo` over the dataset's footers, the rest read only
    when the first footer's bbox needs a union.

    ``path`` may be a single file, a dataset directory
    (:func:`dataset_files`), or an explicit file list (snapshot
    membership reads)."""
    files = sorted(path) if isinstance(path, list) else dataset_files(path)
    if not files:
        return None

    def footers():
        yield pq.read_metadata(files[0])
        yield from read_footers(files[1:])

    return footer_geo(len(files), footers())


def _geo_from_arrow_extensions(schema: "pa.Schema") -> GeoMeta | None:
    """GeoParquet 2.0 / geo-native files carry typed geometry columns
    instead of (or alongside) the 1.x ``geo`` footer JSON.  The reference
    recognizes Parquet-native GeometryType logical types
    (core/extract.py:175-191, core/metadata_utils.py:48); on this pyarrow
    (16.x, no Parquet GEOMETRY logical type support) the readable
    equivalent is the GeoArrow extension convention those files use at the
    Arrow layer: ``ARROW:extension:name`` in {geoarrow.wkb, geoarrow.*}
    with optional extension metadata ``{"crs": ...}``.  Synthesize the
    same GeoMeta either way so downstream operators see one data model."""
    cols: dict[str, GeoColumnMeta] = {}
    for fld in schema:
        md = fld.metadata or {}
        ext = md.get(b"ARROW:extension:name", b"").decode()
        if not ext.startswith("geoarrow."):
            continue
        crs = None
        raw = md.get(b"ARROW:extension:metadata")
        if raw:
            try:
                ext_meta = json.loads(raw)
                crs = ext_meta.get("crs")
                if isinstance(crs, dict):
                    ident = crs.get("id") or {}
                    if ident.get("authority") and ident.get("code") is not None:
                        crs = f"{ident['authority']}:{ident['code']}"
            except (ValueError, AttributeError):
                pass
        encoding = "WKB" if ext == "geoarrow.wkb" else ext.split(".", 1)[1]
        cols[fld.name] = GeoColumnMeta(encoding=encoding, crs=crs)
    if not cols:
        return None
    primary = "geometry" if "geometry" in cols else sorted(cols)[0]
    return GeoMeta(primary_column=primary, columns=cols)


def read(spark: SparkSession, path: str, geometry_column: str | None = None):
    """Read GeoParquet -> GeoTable (reference: api/table.py:166-185).
    Falls back to GeoArrow extension-typed columns (the GeoParquet 2.0
    arrow mapping) when the 1.x ``geo`` footer JSON is absent."""
    from geoparquet_io_spark.geotable import GeoTable

    df = spark.read.parquet(path)
    files = dataset_files(path)
    geo = read_footer_geo(files)
    if geo is None and files:
        geo = _geo_from_arrow_extensions(pq.read_schema(files[0]))
    if geo is None and geometry_column:
        geo = GeoMeta(primary_column=geometry_column,
                      columns={geometry_column: GeoColumnMeta()})
    if geo is not None and geometry_column:
        geo = geo.with_primary_column(geometry_column)
    return GeoTable(df, geo)


def read_partition(
    spark: SparkSession,
    path: str,
    hive_partitioning: bool = True,
    allow_schema_diff: bool = False,
):
    """Read a partitioned dataset (reference: core/partition_reader.py:22-78).
    ``allow_schema_diff`` == DuckDB union_by_name == Spark mergeSchema."""
    from geoparquet_io_spark.geotable import GeoTable

    reader = spark.read
    if allow_schema_diff:
        reader = reader.option("mergeSchema", "true")
    if not hive_partitioning:
        # treat dirs as plain file globs, no partition column synthesis
        reader = reader.option("recursiveFileLookup", "true")
    df = reader.parquet(path)
    if hive_partitioning:
        df = _cast_null_partition_types(df, path)
    return GeoTable(df, read_footer_geo(path))


def _cast_null_partition_types(df: DataFrame, path: str) -> DataFrame:
    """Restore recorded partition-column types on an EMPTY partitioned
    dataset: the zero-row write places its schema-only file under
    ``c=__HIVE_DEFAULT_PARTITION__`` dirs, whose all-null values make
    Spark infer StringType for every partition column.  The write
    records the real types in that file's footer (PARTITION_TYPES_KEY);
    cast a recorded column back ONLY while it is still all-null (the
    pure empty state).  Once real dir values exist, inference owns the
    type: casting then could CORRUPT values (dirs like month=01 infer
    as int 1; casting back to the recorded 'string' would yield '1',
    not '01').  The probe is depth-1 first — a dataset that never had
    an empty write pays one cheap listdir, never a recursive walk."""
    from pyspark.sql import functions as F

    # the empty-state file's FIRST partition dir sits directly under
    # path; only recurse inside an actual __HIVE_DEFAULT_PARTITION__ hit
    top = _glob.glob(os.path.join(path, "*=__HIVE_DEFAULT_PARTITION__"))
    if not top:
        return df
    probe = [f for d in sorted(top) for f in dataset_files(d)]
    # the schema-only file carries a filename MARKER so it is found by
    # name, not by sort order (r8 ADVICE: data files share the
    # part-NNNNN-{uuid} shape, and with >64 null-partition data files
    # the uuid sort could push the keyed file past the scan bound,
    # silently skipping the restore).  Datasets written before the
    # marker fall back to the bounded sorted footer scan.
    marked = [f for f in probe
              if os.path.basename(f).endswith(_SCHEMA_FILE_SUFFIX)]
    for f in (sorted(marked) or sorted(probe)[:64]):
        md = pq.read_schema(f).metadata or {}
        raw = md.get(PARTITION_TYPES_KEY)
        if raw is None:
            continue   # pre-record schema or null-partition data file
        todo = [(col, ddl) for col, ddl in json.loads(raw).items()
                if col in df.columns
                and df.schema[col].dataType.simpleString() != ddl]
        if todo:
            # all-null gate from the DIRECTORY LISTING, no Spark job at
            # all (r9 review — the r8 one-aggregate version was still a
            # full-dataset scan on every read once real data existed):
            # partition-column values come only from dir names, so a
            # column is all-null iff every `col=` dir is the hive
            # default.  Early exit the walk once every recorded column
            # has a real value.
            cols = {c for c, _ in todo}
            real = _cols_with_real_dir_values(path, cols)
            for col, ddl in todo:
                if col not in real:
                    df = df.withColumn(col, F.col(col).cast(ddl))
        break
    return df


def _cols_with_real_dir_values(path: str, cols: set) -> set:
    """Subset of ``cols`` that have at least one hive dir with a real
    (non-``__HIVE_DEFAULT_PARTITION__``) value anywhere under ``path``.
    Walks directories only; returns as soon as every column is found."""
    found: set = set()
    for _root, dirs, _files in os.walk(path):
        dirs[:] = [d for d in dirs if not is_hidden(d)]
        for d in dirs:
            if "=" not in d:
                continue
            c, v = d.split("=", 1)
            if c in cols and v != "__HIVE_DEFAULT_PARTITION__":
                found.add(c)
        if found == cols:
            break
    return found


# ---------------------------------------------------------------------------
# Write
# ---------------------------------------------------------------------------

def _make_native_geometry_type(crs):
    """pyarrow's canonical GEOMETRY extension type (>= 19: ``pa.geometry``),
    which the parquet writer maps to the parquet-native GEOMETRY logical
    annotation (reference: core/metadata_utils.py:48).  Returns None when
    the runtime pyarrow predates it.  Signature differences across
    versions are absorbed (crs kwarg -> positional -> none)."""
    ctor = getattr(pa, "geometry", None) or getattr(pa, "geometry_type", None)
    if ctor is None:
        return None
    if crs is not None:
        try:
            return ctor(crs=crs)
        except TypeError:
            try:
                return ctor(crs)
            except TypeError:
                # this pyarrow's ctor can't take our CRS: do NOT emit a
                # native type that silently drops it — returning None
                # falls back to the GeoArrow metadata path, which
                # carries the CRS
                return None
    try:
        return ctor()
    except TypeError:
        return None


def _arrow_schema_with_geo(df: DataFrame, geo: GeoMeta | None) -> pa.Schema:
    """Dataset arrow schema carrying BOTH geo conventions: the 1.x ``geo``
    footer JSON and GeoArrow extension metadata on each geometry field
    (the GeoParquet 2.0 arrow mapping) — typed readers see typed columns,
    1.x readers see the footer, neither interferes with the other.

    For version 2.0 / parquet-geo-only on a pyarrow that has the
    canonical GEOMETRY extension type (>= 19), geometry fields get the
    NATIVE type instead: the parquet writer then emits the
    parquet-level GEOMETRY logical annotation.  Both writers
    ``cast(schema)`` their tables, and binary -> extension-over-binary
    is a storage cast."""
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = to_arrow_schema(df.schema)
    if geo is None:
        return schema
    native = (geo.version in ("2.0", "parquet-geo-only")
              and native_geo_types_supported())
    all_native = bool(geo.columns) and native
    for name, col in geo.columns.items():
        idx = schema.get_field_index(name)
        if idx < 0:
            # geo entry names a column absent from the frame: it cannot
            # be natively annotated, so parquet-geo-only must keep the
            # footer fallback (skipping the reset dropped ALL geometry
            # metadata on pyarrow >= 19 — r8 review)
            all_native = False
            continue
        fld = schema.field(idx)
        if not (pa.types.is_binary(fld.type) or pa.types.is_large_binary(fld.type)):
            all_native = False
            continue
        if native:
            gt = _make_native_geometry_type(col.crs)
            if gt is not None:
                schema = schema.set(idx, pa.field(name, gt, fld.nullable))
                continue
        all_native = False
        ext_meta: dict = {}
        if col.crs is not None:
            ext_meta["crs"] = col.crs
        fld = fld.with_metadata({
            **(fld.metadata or {}),
            b"ARROW:extension:name": b"geoarrow.wkb",
            b"ARROW:extension:metadata": json.dumps(ext_meta).encode(),
        })
        schema = schema.set(idx, fld)
    if geo.version == "parquet-geo-only" and all_native:
        # the mode's whole point: parquet-native GEOMETRY logical types
        # ONLY, no GeoParquet footer JSON (when the runtime couldn't
        # emit native types, the 2.0.0-footer fallback below keeps the
        # file readable instead)
        return schema
    return schema.with_metadata(
        {**(schema.metadata or {}), b"geo": geo.to_json().encode()}
    )


def write(
    df: DataFrame,
    path: str,
    geo: GeoMeta | None = None,
    partition_by: list[str] | None = None,
    single_file: bool | None = None,
    compression: str = DEFAULT_COMPRESSION,
    compression_level: int = DEFAULT_COMPRESSION_LEVEL,
    row_group_rows: int = DEFAULT_ROW_GROUP_ROWS,
    max_rows_per_file: int | None = None,
    overwrite: bool = True,
    per_file_bbox: str | None = None,
    target_row_group_mb: float | None = None,
    version: str | None = None,
    update_metadata: bool = True,
) -> list[str]:
    """Write GeoParquet with footer ``geo`` metadata.  Returns written files.

    Each file's footer describes the rows written TO THAT FILE, not the
    input: the writer computes the primary column's ``geometry_types``
    (from the WKB headers) and its ``bbox`` (from the ``per_file_bbox``
    covering) while it writes, and replaces whatever ``geo`` carried.
    Without a covering column the bbox passes through from ``geo``.  A
    file holding 3-D/EWKB-Z geometry gets empty (unknown) types, with
    one warning per write.  A dataset reader unions both stats over the
    files (:func:`footer_geo`).

    - ``per_file_bbox``: the bbox covering column; defaults to the
      column ``geo``'s covering declares, when the frame has it (the
      reference invariant for partitioned outputs,
      core/partition_common.py:657-705).
    - ``update_metadata=False``: stamp ``geo`` exactly as given, no
      stats; passing ``per_file_bbox`` with it raises.
    - ``version``: override the footer spec version ("1.0"/"1.1"/"2.0"/
      "parquet-geo-only"; default keeps ``geo.version``).  For "2.0" the
      file carries the GeoArrow extension mapping (always emitted) plus a
      2.0.0 footer; the parquet-native GEOMETRY logical annotation
      (reference: core/metadata_utils.py:48, core/extract.py:175-191) is
      emitted only when the runtime pyarrow supports it
      (:func:`native_geo_types_supported` — pyarrow >= 19; this container
      has 16.1, so the fallback is warned about and documented).

    - ``single_file=True`` -> exactly ``path`` (a .parquet file), streamed
      through the driver batch-by-batch (reference single-file semantics;
      its arrow_streaming strategy, write_strategies/arrow_streaming.py:81-341).
    - directory mode (default)   -> one file per task via executor-side
      pyarrow writers; with ``partition_by`` -> hive ``col=value/`` dirs.
      ``overwrite`` removes the old files only once the new ones are
      staged: a write that fails leaves the old dataset readable.
    """
    if version is not None:
        import copy as _copy

        if version not in GEOPARQUET_VERSIONS:
            raise ValueError(
                f"unknown GeoParquet version {version!r}; "
                f"have {sorted(GEOPARQUET_VERSIONS)}")
        if geo is not None and geo.version != version:
            geo = _copy.deepcopy(geo)
            geo.version = version
        if version in ("2.0", "parquet-geo-only") \
                and not native_geo_types_supported():
            # GeoParquet 2.0's parquet-level GEOMETRY logical annotation
            # needs pyarrow >= 19 (pa.geometry / GEOMETRY logical type);
            # this runtime can't emit it.  The written file still carries
            # the 2.0 arrow mapping (GeoArrow extension metadata on every
            # geometry field, stamped unconditionally below) plus the
            # version-2.0.0 footer JSON — the documented fallback; typed
            # readers (incl. this repo's _geo_from_arrow_extensions)
            # recognize it.
            import warnings

            warnings.warn(
                "pyarrow %s cannot write parquet-native GEOMETRY logical "
                "types (needs >= 19); emitting GeoArrow-typed columns + "
                "2.0 footer metadata instead" % pa.__version__)
    if single_file is None:
        single_file = path.endswith(".parquet") and partition_by is None
    elif single_file:
        # silently ignoring these wrote one unpartitioned file while the
        # caller believed the data was hive-partitioned / bounded / kept
        bad = [n for n, v in [("partition_by", partition_by),
                              ("max_rows_per_file", max_rows_per_file)]
               if v is not None]
        if bad:
            raise ValueError(
                f"single_file=True is incompatible with {bad}; use the "
                "directory (distributed) write")
        if not overwrite and os.path.exists(path):
            raise FileExistsError(
                f"{path!r} exists and overwrite=False (single-file mode "
                "has no append)")
    if not update_metadata and per_file_bbox is not None:
        raise ValueError(
            "per_file_bbox stamps footer stats, which update_metadata=False "
            "turns off; pass one or the other")
    if update_metadata and geo is not None and per_file_bbox is None \
            and geo.primary.covering_column in df.columns:
        per_file_bbox = geo.primary.covering_column
    if per_file_bbox is not None:
        # the covering's struct shape is checked here, on the driver, not
        # as a failed task of the write
        from pyspark.sql import types as T

        if per_file_bbox not in df.columns:
            raise ValueError(f"per_file_bbox column {per_file_bbox!r} not in schema")
        dt = df.schema[per_file_bbox].dataType
        missing = {"xmin", "ymin", "xmax", "ymax"} - set(
            dt.names if isinstance(dt, T.StructType) else ())
        if missing:
            raise ValueError(
                f"per_file_bbox column {per_file_bbox!r} must be a "
                f"struct with xmin/ymin/xmax/ymax fields; missing "
                f"{sorted(missing)} (got {dt.simpleString()})")
    schema = _arrow_schema_with_geo(df, geo)
    # the footer stats each file gets: (WKB column to type, covering
    # column to bound); (None, None) stamps the footer as given
    stats = (None, None)
    if update_metadata and b"geo" in (schema.metadata or {}):
        g = geo.primary_column
        typed = g in schema.names and pa.types.is_binary(schema.field(g).type)
        stats = (g if typed else None, per_file_bbox)

    if target_row_group_mb is not None:
        # size groups to the reference's 64-256 MB guidance from a bounded
        # compressed sample (core/common.py:1705,2610)
        from geoparquet_io_spark.operators.inspect_check import (
            estimate_row_group_rows,
        )

        row_group_rows = estimate_row_group_rows(
            df, target_mb=target_row_group_mb, compression=compression,
            compression_level=compression_level)

    if single_file:
        return _write_single_file(df, path, schema, compression, compression_level,
                                  row_group_rows, stats)
    return _write_distributed(
        df, path, schema, partition_by, compression, compression_level, row_group_rows,
        max_rows_per_file, overwrite, stats,
    )


class _FileStats:
    """Footer stats of the rows one file receives: the GeoParquet types
    of the WKB values in ``gcol`` and the bbox of the ``bbox_col``
    covering (a None column is not computed).  ``types`` turns None once
    a value's header is not 2-D WKB this engine can type; ``bbox`` stays
    None while no row has a bbox."""

    def __init__(self, gcol: str | None, bbox_col: str | None):
        self.gcol, self.bbox_col = gcol, bbox_col
        self.types: set[str] | None = set()
        self.bbox: list | None = None

    def add(self, tbl: "pa.Table") -> None:
        import pyarrow.compute as pc

        if self.gcol is not None and self.types is not None:
            from geoparquet_io_spark.functions import wkb as _wkb

            # one decode per DISTINCT 5-byte header, not a parse per row
            heads = pc.unique(pc.binary_slice(tbl.column(self.gcol), 0, 5))
            try:
                self.types |= {_wkb.GEOPARQUET_NAMES[_wkb.header_at(h)[1]]
                               for h in heads.to_pylist() if h is not None}
            except (ValueError, IndexError, struct.error):
                self.types = None
        if self.bbox_col is not None:
            col = tbl.column(self.bbox_col).combine_chunks()
            # flatten(), NOT .field(): .field() ignores struct-level
            # nulls and reads the (undefined, typically 0.0) child values
            # under them — a null bbox row would wrongly extend the
            # footer bbox to 0.  flatten() propagates parent nulls;
            # pc.min/max then skip them.
            kids = dict(zip((f.name for f in col.type), col.flatten()))
            box = [pc.min(kids["xmin"]).as_py(), pc.min(kids["ymin"]).as_py(),
                   pc.max(kids["xmax"]).as_py(), pc.max(kids["ymax"]).as_py()]
            if None not in box:      # None: every row here has a null bbox
                self.bbox = bbox_union(self.bbox, box) if self.bbox else box

    def stamp(self, schema: pa.Schema) -> pa.Schema:
        """``schema`` whose ``geo`` footer carries these stats."""
        if self.gcol is None and self.bbox_col is None:
            return schema
        g = GeoMeta.from_json(schema.metadata[b"geo"])
        p = g.ensure_primary()
        if self.gcol is not None:
            p.geometry_types = sorted(self.types or ())
        if self.bbox_col is not None:
            p.bbox = self.bbox
        return schema.with_metadata({**schema.metadata, b"geo": g.to_json().encode()})


def _warn_untyped() -> None:
    import warnings

    warnings.warn(
        "geometry_types left empty: column contains 3-D/EWKB or non-WKB "
        "geometry this engine cannot type (only 2-D WKB)")


def _write_single_file(df, path, schema, compression, compression_level,
                       row_group_rows, stats):
    os.makedirs(os.path.dirname(os.path.abspath(path)) or ".", exist_ok=True)
    # write to a dot-temp and publish with one rename: opening the
    # ParquetWriter directly on the destination TRUNCATED any existing
    # good file before the data materialized, and a mid-write failure
    # left a valid-looking zero-row parquet where real data used to be
    # (the distributed path always had this temp+rename protection)
    tmp = os.path.join(
        os.path.dirname(os.path.abspath(path)),
        f".inprogress-{uuid.uuid4().hex[:12]}-"
        f"{os.path.basename(path)}")
    # toArrow() materializes; for the huge case use directory mode.
    tbl = df.toArrow()
    st = _FileStats(*stats)
    st.add(tbl)
    schema = st.stamp(schema)
    try:
        with pq.ParquetWriter(tmp, schema, compression=compression,
                              compression_level=compression_level) as writer:
            writer.write_table(tbl.cast(schema), row_group_size=row_group_rows)
        os.replace(tmp, path)
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)
    if st.types is None:
        _warn_untyped()
    return [path]


#: foreign .inprogress-* task files older than this are treated as a
#: crashed job's orphans and reclaimed by the next writer.  NOTE the
#: sharp edge: a LIVE foreign write whose task file mtime goes stale
#: past the window (its stage stalled mid-write) loses the file and its
#: commit-time os.replace fails — so the default is a full week, far
#: beyond any plausible single-write stall, trading slower disk
#: reclamation for never killing a slow job.  Override via
#: SPARK_GRAFT_INPROGRESS_ORPHAN_AGE (seconds).
# footer KV key on the zero-row schema-only file recording the written
# partition-column Spark types (dir values are all-null in the empty
# state, so readers would otherwise infer StringType for every one)
PARTITION_TYPES_KEY = b"spark_graft.partition_types"
# filename suffix of the zero-row write's schema-only file; keeps the
# part- prefix (Spark treats it as a data file) but is matchable by name
_SCHEMA_FILE_SUFFIX = "-schema.parquet"

INPROGRESS_ORPHAN_AGE_SEC = int(os.environ.get(
    "SPARK_GRAFT_INPROGRESS_ORPHAN_AGE", 7 * 24 * 3600))


def _sweep(path: str, doomed, prune_dirs: bool = False) -> None:
    """Unlink every file below ``path`` whose full name ``doomed``
    accepts; with ``prune_dirs``, also remove the directories that are
    left empty."""
    for root, _dirs, names in os.walk(path, topdown=False):
        for n in names:
            full = os.path.join(root, n)
            try:
                if doomed(full):
                    os.unlink(full)
            except FileNotFoundError:
                pass     # racing with its own writer/committer
        if prune_dirs and root != path and not os.listdir(root):
            os.rmdir(root)


class _OpenFile:
    """One output file of a write task: rows not yet encoded (at most a
    row group plus a batch), its writer once a row group is flushed, and
    the stats of every row it received."""

    def __init__(self, path: str, stats: tuple):
        self.path, self.rows, self.flushed = path, 0, 0
        self.pending: list = []
        self.writer = None
        self.stats = _FileStats(*stats)


def _write_distributed(
    df, path, schema, partition_by, compression, compression_level, row_group_rows,
    max_rows_per_file, overwrite, stats,
):
    schema_ser = schema.serialize().to_pybytes()
    # per-job id scopes the in-flight prefix AND the orphan sweep: two
    # concurrent appends to the same directory (a designed scenario —
    # commit_snapshot / vacuum grace both assume it) must never delete
    # each other's in-flight task files
    job_id = uuid.uuid4().hex[:12]
    inprog_prefix = f".inprogress-{job_id}-"
    os.makedirs(path, exist_ok=True)
    part_cols = list(partition_by or [])
    if part_cols:
        # co-locate each partition value; AQE may still split skewed keys,
        # which just yields >1 file for that value (allowed by the layout).
        df = df.repartition(*part_cols)
    data_cols = [f.name for f in schema if f.name not in part_cols]
    data_schema = pa.schema(
        [schema.field(n) for n in data_cols], metadata=schema.metadata
    )

    def write_partition(batches: Iterator["pa.RecordBatch"]):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        full_schema = pa.ipc.read_schema(pa.BufferReader(schema_ser))
        dschema = pa.schema(
            [full_schema.field(n) for n in data_cols], metadata=full_schema.metadata
        )
        open_f: dict[tuple, _OpenFile] = {}
        emitted: list[dict] = []

        def _new_file(k: tuple) -> _OpenFile:
            d = path
            if part_cols:
                d = os.path.join(
                    path, *[f"{c}={_hive_escape(v)}" for c, v in zip(part_cols, k)]
                )
                os.makedirs(d, exist_ok=True)
            # dot-prefixed while in flight: parquet readers (Spark,
            # pyarrow.dataset, dataset_files()) skip dot-files, so a
            # failed or speculative task attempt can never leak a partial
            # or duplicate file into reads — the driver renames the
            # manifest's survivors to their visible names after collect()
            return _OpenFile(os.path.join(
                d, f"{inprog_prefix}part-{pid:05d}-{uuid.uuid4().hex[:8]}.parquet"),
                stats)

        def _writer(f: _OpenFile, fschema: pa.Schema):
            f.writer = pq.ParquetWriter(
                f.path, fschema, compression=compression,
                compression_level=compression_level)

        def _add(f: _OpenFile, chunk: "pa.Table"):
            if f.rows - f.flushed >= row_group_rows:
                # flush the full row groups only now that more rows have
                # come: a file that ends on a group boundary still gets
                # the single encode in _close
                raw = pa.concat_tables(f.pending)
                n = raw.num_rows - raw.num_rows % row_group_rows
                if f.writer is None:
                    _writer(f, dschema)
                f.writer.write_table(raw.slice(0, n).cast(dschema),
                                     row_group_size=row_group_rows)
                f.pending, f.flushed = [raw.slice(n)], f.flushed + n
            f.stats.add(chunk)
            f.pending.append(chunk)
            f.rows += chunk.num_rows

        def _close(f: _OpenFile):
            fschema = f.stats.stamp(dschema)
            if f.writer is None:
                # the common case: the whole file in one encode, footer exact
                _writer(f, fschema)
            try:
                f.writer.write_table(pa.concat_tables(f.pending).cast(dschema),
                                     row_group_size=row_group_rows)
            finally:
                f.writer.close()
            if f.flushed and fschema is not dschema:
                # O(footer) metadata patch — the flushed pages are never
                # decompressed or re-encoded just to stamp the file's stats
                patch_footer_metadata(f.path, {b"geo": fschema.metadata[b"geo"]})
            emitted.append({"file": f.path, "rows": f.rows,
                            "untyped": f.stats.types is None})

        def _append(k: tuple, sub: "pa.Table"):
            while sub.num_rows:
                f = open_f.get(k) or open_f.setdefault(k, _new_file(k))
                take = sub.num_rows
                if max_rows_per_file:
                    take = min(take, max_rows_per_file - f.rows)
                _add(f, sub.slice(0, take))
                sub = sub.slice(take)
                if max_rows_per_file and f.rows >= max_rows_per_file:
                    _close(open_f.pop(k))

        try:
            for batch in batches:
                # rows stay in Spark's arrow types until encode, where
                # they are cast to the file schema once per row group
                tbl = pa.Table.from_batches([batch])
                if part_cols:
                    keys = list(zip(*[
                        tbl.column(c).cast(full_schema.field(c).type).to_pylist()
                        for c in part_cols]))
                    by_key: dict[tuple, list[int]] = {}
                    for i, k in enumerate(keys):
                        by_key.setdefault(k, []).append(i)
                    for k, idxs in by_key.items():
                        _append(k, tbl.take(idxs).select(data_cols))
                else:
                    _append((), tbl.select(data_cols))
        finally:
            for f in open_f.values():
                _close(f)
        yield from pa.Table.from_pylist(emitted, schema=pa.schema([
            ("file", pa.string()), ("rows", pa.int64()), ("untyped", pa.bool_())]),
        ).to_batches()

    res = df.mapInArrow(write_partition,
                        schema="file string, rows long, untyped boolean")
    try:
        rows = res.collect()
    except BaseException:
        _sweep(path, lambda full: os.path.basename(full).startswith(inprog_prefix))
        raise
    if overwrite:
        # the old dataset goes only now that the new one is staged: a
        # write that fails above leaves it readable
        _sweep(path, lambda full: not os.path.basename(full).startswith(inprog_prefix),
               prune_dirs=True)
    # task commit: collect() holds exactly one result per partition (the
    # winning attempt), so renaming only the manifest's files and sweeping
    # the rest makes failed/speculative attempts invisible to readers
    final_files = []
    for r in rows:
        hidden = r["file"]
        d, base = os.path.split(hidden)
        final = os.path.join(d, base[len(inprog_prefix):])
        os.replace(hidden, final)
        final_files.append(final)
    import time as _time

    now = _time.time()

    def orphan(full: str) -> bool:
        # sweep this job's own orphaned attempts immediately; a FOREIGN
        # job's in-flight files are its live task-commit manifest —
        # reclaim them only past a generous age window (a crashed
        # writer's orphans are invisible to readers but would otherwise
        # leak disk forever; nothing else sweeps dot-files).  Covers
        # legacy un-scoped `.inprogress-part-*` names too.
        fn = os.path.basename(full)
        return fn.startswith(inprog_prefix) or (
            fn.startswith(".inprogress-")
            and now - os.path.getmtime(full) > INPROGRESS_ORPHAN_AGE_SEC)

    _sweep(path, orphan)
    if any(r["untyped"] for r in rows):
        _warn_untyped()
    if not rows:
        # an empty APPEND to a dataset that already has data is a
        # complete no-op: writing the schema-only default-partition file
        # here would add a phantom null partition plus per-read probe
        # cost to a perfectly healthy dataset (r8 review)
        if dataset_files(path):
            return []
        # zero input rows (a filter matching nothing is a normal pipeline
        # outcome): emit ONE schema-only file so the dataset stays
        # readable — spark.read.parquet on an empty directory raises
        # UNABLE_TO_INFER_SCHEMA.  For partitioned layouts the file MUST
        # match what data files contain (partition columns live in dir
        # names, never inside files): inlining them would make a later
        # append with real hive dirs fail with a duplicate-column error.
        # Placing it under __HIVE_DEFAULT_PARTITION__ dirs keeps the
        # partition columns discoverable even in the empty state.
        d, f_schema = path, schema
        if part_cols:
            d = os.path.join(
                path, *[f"{c}=__HIVE_DEFAULT_PARTITION__" for c in part_cols])
            os.makedirs(d, exist_ok=True)
            # dir values are all-null here, so a reader infers each
            # partition column as StringType — record the WRITTEN types
            # in this file's footer so read_partition can cast them back
            # (they round-trip from real dir values once data exists)
            from pyspark.sql.pandas.types import from_arrow_type

            ptypes = {c: from_arrow_type(
                schema.field(c).type).simpleString() for c in part_cols}
            md = dict(data_schema.metadata or {})
            md[PARTITION_TYPES_KEY] = json.dumps(ptypes).encode()
            f_schema = data_schema.with_metadata(md)
        # marker suffix: read_partition finds this file by NAME among
        # arbitrarily many null-partition data files (r8 ADVICE)
        f = os.path.join(
            d, f"part-00000-{uuid.uuid4().hex[:8]}{_SCHEMA_FILE_SUFFIX}")
        f_schema = _FileStats(*stats).stamp(f_schema)
        pq.write_table(pa.Table.from_batches([], schema=f_schema), f,
                       compression=compression,
                       compression_level=compression_level)
        return [f]
    return final_files


def _hive_escape(v) -> str:
    if v is None:
        return "__HIVE_DEFAULT_PARTITION__"
    s = str(v)
    # Spark's unescapePathName consumes exactly TWO hex digits per % —
    # %{codepoint:02X} emitted 3-4 digits for ord > 0xFF, so 'a→b'
    # round-tripped as 'a!92b' (r8 review).  Match Spark's own writer:
    # non-ASCII characters are filesystem-legal and stay RAW in the dir
    # name (the reader takes them literally); only ASCII specials get
    # the %XX escape.
    return "".join(
        ch if ch.isalnum() or ch in "-_." or ord(ch) > 0x7F
        else f"%{ord(ch):02X}"
        for ch in s)


def write_bloom(df: DataFrame, path: str, bloom_columns: list[str],
                ndv: int | None = None, compression: str = "zstd",
                mode: str = "overwrite") -> list[str]:
    """Write parquet WITH split-block bloom filters on ``bloom_columns``
    — the point-lookup row-group skipper: at 100 TB an equality probe
    (doc_id, fingerprint, join key) skips every row group whose bloom
    rejects the value, without reading data pages.  Goes through
    Spark's native parquet writer (parquet-mr), the only writer in this
    stack that emits blooms — the pyarrow footer path (:func:`write`)
    can't, so bloom writes target NON-geo tables; geo datasets get
    file-level skipping from bbox manifests instead
    (operators/maintenance.py) — the two skipping mechanisms are
    complementary by design.

    Note parquet-mr OMITS the bloom for a column whose row group stayed
    fully dictionary-encoded (the dictionary already gives exact
    skipping there); blooms appear exactly where they pay — high-NDV
    columns.  ``check bloom`` / ``check_bloom_filters`` reports what was
    actually written.
    """
    missing = [c for c in bloom_columns if c not in df.columns]
    if missing:
        raise ValueError(f"bloom columns not in schema: {missing}")
    w = df.write.option("compression", compression)
    for c in bloom_columns:
        w = w.option(f"parquet.bloom.filter.enabled#{c}", "true")
        if ndv is not None:
            w = w.option(f"parquet.bloom.filter.expected.ndv#{c}", str(ndv))
    w.mode(mode).parquet(path)
    return dataset_files(path)
