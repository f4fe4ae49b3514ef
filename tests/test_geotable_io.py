"""GeoTable fluent API + GeoParquet IO integration tests."""

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def points(spark):
    from geoparquet_io_spark.queries import _events_points

    return _events_points(spark, SF_SMOKE)


def test_write_read_roundtrip_single_file(points, spark, tmp_path):
    import geoparquet_io_spark as gps

    out = str(tmp_path / "pts.parquet")
    files = points.write(out)
    assert files == [out]
    meta = pq.read_schema(out).metadata
    assert b"geo" in meta
    back = gps.read(spark, out)
    assert back.count() == points.count()
    assert back.geometry_column == "geometry"
    assert back.bbox_column == "bbox"
    assert back.crs == "EPSG:4326"


def test_distributed_write_and_partition_read(points, spark, tmp_path):
    import geoparquet_io_spark as gps

    out = str(tmp_path / "pts_dir")
    files = points.write(out, partition_by=["event_type"])
    assert all("event_type=" in f for f in files)
    assert all(b"geo" in pq.read_schema(f).metadata for f in files)
    back = gps.read_partition(spark, out)
    assert back.count() == points.count()
    assert "event_type" in back.df.columns  # hive partition column recovered


def test_distributed_write_empty_result_stays_readable(points, spark, tmp_path):
    """A filter matching nothing must still produce a readable dataset:
    one schema-only file with the geo footer (an empty directory raises
    UNABLE_TO_INFER_SCHEMA on read)."""
    import geoparquet_io_spark as gps

    from geoparquet_io_spark.geotable import GeoTable

    out = str(tmp_path / "empty_dir")
    empty = GeoTable(points.df.filter(F.lit(False)), points.geo)
    files = empty.write(out, single_file=False)
    assert len(files) == 1
    assert b"geo" in pq.read_schema(files[0]).metadata
    back = gps.read(spark, out)
    assert back.count() == 0
    assert set(back.df.columns) == set(points.df.columns)
    assert back.geometry_column == "geometry"


def test_distributed_write_empty_partitioned_appendable(points, spark, tmp_path):
    """A zero-row PARTITIONED write must not inline the partition columns
    into the schema-only file: a later append with real hive dirs would
    make plain spark.read.parquet see the column twice (data + dir) and
    fail with a duplicate-column error."""
    import geoparquet_io_spark as gps
    from geoparquet_io_spark.geotable import GeoTable

    out = str(tmp_path / "empty_part")
    empty = GeoTable(points.df.filter(F.lit(False)), points.geo)
    files = empty.write(out, partition_by=["event_type"], single_file=False)
    assert len(files) == 1
    # partition column lives in the dir name, never inside the file
    assert "event_type=__HIVE_DEFAULT_PARTITION__" in files[0]
    assert "event_type" not in pq.read_schema(files[0]).names
    assert b"geo" in pq.read_schema(files[0]).metadata
    # empty read still exposes the partition column (from the dir)
    back = spark.read.parquet(out)
    assert back.count() == 0 and "event_type" in back.columns
    # THE scenario: append real data with hive dirs, then a plain read
    points.write(out, partition_by=["event_type"], overwrite=False)
    appended = spark.read.parquet(out)
    assert appended.count() == points.count()
    assert appended.columns.count("event_type") == 1
    assert gps.read_partition(spark, out).count() == points.count()


def test_empty_partitioned_write_roundtrips_partition_types(points, spark,
                                                            tmp_path):
    """A NON-STRING partition column must round-trip its type through
    the empty state (r7 ADVICE): the all-null __HIVE_DEFAULT_PARTITION__
    dirs make Spark infer StringType, so the write records the real
    types in the schema file's footer and read_partition casts back."""
    import geoparquet_io_spark as gps
    from geoparquet_io_spark.geotable import GeoTable

    out = str(tmp_path / "empty_int_part")
    pts = GeoTable(
        points.df.withColumn("bucket", (F.col("event_id") % 4).cast("int")),
        points.geo)
    empty = GeoTable(pts.df.filter(F.lit(False)), pts.geo)
    empty.write(out, partition_by=["bucket", "event_type"],
                single_file=False)
    back = gps.read_partition(spark, out)
    assert back.count() == 0
    assert back.df.schema["bucket"].dataType.simpleString() == "int"
    assert back.df.schema["event_type"].dataType.simpleString() == "string"
    # appended real data: inference is correct on its own and the cast
    # is a no-op, but the schema file's metadata must not break reads
    pts.write(out, partition_by=["bucket", "event_type"], overwrite=False)
    back2 = gps.read_partition(spark, out)
    assert back2.count() == pts.count()
    assert back2.df.schema["bucket"].dataType.simpleString() == "int"


@pytest.mark.parametrize("col", ["month", "_month"])
def test_partition_type_restore_never_corrupts_inferred_values(
        points, spark, tmp_path, col):
    """The recorded-type cast applies ONLY in the all-null empty state:
    once real dirs exist whose values Spark parses numerically (e.g.
    month=01 -> int 1), casting back to the recorded 'string' would
    turn '01' into '1' — silent value corruption.  Inference must own
    the type as soon as any non-null value exists.  A ``_``-prefixed
    column's ``_month=01`` dirs are data too (Spark's hidden-path rule
    skips only ``_`` names without ``=``)."""
    import geoparquet_io_spark as gps
    from geoparquet_io_spark.geotable import GeoTable

    out = str(tmp_path / "zeropad_part")
    pts = GeoTable(
        points.df.withColumn(
            col, F.format_string("%02d", (F.col("event_id") % 3) + 1)),
        points.geo)
    # empty write records the column as string
    GeoTable(pts.df.filter(F.lit(False)), pts.geo).write(
        out, partition_by=[col], single_file=False)
    empty = gps.read_partition(spark, out)
    assert empty.df.schema[col].dataType.simpleString() == "string"
    # real data: dirs month=01/02/03 -> Spark infers int; the recorded
    # 'string' must NOT be re-applied (it cannot recover the zero-pad)
    pts.write(out, partition_by=[col], overwrite=False)
    back = gps.read_partition(spark, out)
    assert back.count() == pts.count()
    dt = back.df.schema[col].dataType.simpleString()
    vals = {r[col] for r in back.df.select(col).distinct().collect()}
    # either inference's ints stand untouched, or (if Spark kept
    # strings) the original zero-padded values survive — never '1'
    if dt == "string":
        assert vals == {"01", "02", "03"}
    else:
        assert vals == {1, 2, 3}


def test_inprogress_sweep_scoped_to_own_job(points, tmp_path):
    """The post-commit orphan sweep must delete only THIS job's
    in-flight files: a concurrent appender's .inprogress-<otherjob>-*
    task files are its commit manifest, not garbage."""
    import os

    import time

    out = str(tmp_path / "concurrent")
    points.write(out)  # initial dataset
    foreign = os.path.join(out, ".inprogress-feedc0ffee42-part-00001-ab.parquet")
    with open(foreign, "wb") as fh:
        fh.write(b"other writer in flight")
    # a CRASHED job's orphan (legacy unscoped name, old mtime) must be
    # reclaimed — nothing else ever sweeps dot-files
    stale = os.path.join(out, ".inprogress-part-00009-deadbeef.parquet")
    with open(stale, "wb") as fh:
        fh.write(b"crashed job leftover")
    old = time.time() - 8 * 24 * 3600
    os.utime(stale, (old, old))
    points.write(out, overwrite=False)  # append sweeps ONLY its own + aged
    assert os.path.exists(foreign)      # live concurrent writer spared
    assert not os.path.exists(stale)    # aged orphan reclaimed
    # and no file of OUR job's in-progress prefix survives
    leftover = [f for f in os.listdir(out)
                if f.startswith(".inprogress-") and f != os.path.basename(foreign)]
    assert leftover == []


def test_partition_by_string_with_preflight(points, tmp_path):
    out = str(tmp_path / "by_type")
    files = points.partition_by_string("event_type", out)
    assert len(files) >= 3
    # pathological key -> preflight error (event_id is unique: avg rows < 100)
    with pytest.raises(ValueError, match="pathological"):
        points.partition_by_string("event_id", str(tmp_path / "bad"))


def test_partition_by_kdtree(points, tmp_path):
    out = str(tmp_path / "kdtree")
    files = points.partition_by_kdtree(out, iterations=2, skip_analysis=True)
    # 2^2 = 4 balanced cells
    cells = {f.split("kdtree_cell=")[1].split("/")[0] for f in files}
    assert cells == {"00", "01", "10", "11"}


def test_extract_fast_slow_paths_agree(points):
    from geoparquet_io_spark.geotable import GeoTable

    bbox = (-60, -40, 40, 60)
    fast = points.extract(bbox=bbox).df.select("event_id")
    slow = GeoTable(points.df.drop("bbox"), points.geo).extract(bbox=bbox).df.select("event_id")
    a = {r[0] for r in fast.collect()}
    b = {r[0] for r in slow.collect()}
    assert a == b and len(a) > 0


def test_sort_hilbert_improves_spatial_order(points):
    before = points.check_spatial_order(sample_size=60)
    after = points.sort_hilbert().check_spatial_order(sample_size=60)
    assert after["ratio"] < before["ratio"]
    assert after["ordered"]


def test_spatial_join_left_semantics(spark, points):
    from geoparquet_io_spark.operators.joins import match_rate
    from geoparquet_io_spark.testsupport.tables import load_table, nation_boxes
    from geoparquet_io_spark.functions import geom as G

    n = nation_boxes(load_table(spark, SF_SMOKE, "nation"))
    n = n.withColumn("geometry", G.st_box("xmin", "ymin", "xmax", "ymax"))
    n = n.withColumn("bbox", G.bbox_struct(
        F.col("xmin"), F.col("ymin"), F.col("xmax"), F.col("ymax"))) \
        .select("n_nationkey", "n_name", "geometry", "bbox")
    from geoparquet_io_spark.geotable import GeoTable

    joined = points.add_admin_divisions(GeoTable(n, points.geo), levels=("n_name",))
    total = points.count()
    assert joined.count() == total  # left join keeps every point (disjoint boxes)
    rate = match_rate(joined.df, "admin:n_name")
    assert 0 < rate["rate"] <= 1


def test_reproject_updates_metadata(points):
    rp = points.reproject("EPSG:3857")
    assert rp.crs == "EPSG:3857"
    with pytest.raises(ValueError, match="geographic"):
        rp.add_quadkey()


def test_stats_and_bounds(points):
    b = points.bounds()
    assert b[0] < b[2] and b[1] < b[3]
    s = {r["column"]: r for r in points.stats().collect()}
    assert s["event_id"]["nulls"] == 0
    assert s["geometry"]["min"] is None  # geometry: nulls-only stats


def test_partition_by_admin(spark, points, tmp_path):
    from geoparquet_io_spark.functions import geom as G
    from geoparquet_io_spark.geotable import GeoTable
    from geoparquet_io_spark.operators.partition import partition_by_admin
    from geoparquet_io_spark.testsupport.tables import load_table, nation_boxes

    n = nation_boxes(load_table(spark, SF_SMOKE, "nation"))
    n = n.withColumn("geometry", G.st_box("xmin", "ymin", "xmax", "ymax"))
    n = n.withColumn("bbox", G.bbox_struct(
        F.col("xmin"), F.col("ymin"), F.col("xmax"), F.col("ymax"))) \
        .select("n_name", "geometry", "bbox")
    out = str(tmp_path / "by_admin")
    files = partition_by_admin(points, GeoTable(n, points.geo), ["n_name"],
                               out, skip_analysis=True)
    assert files and all("n_name=" in f for f in files)
    back = spark.read.parquet(out)
    assert back.count() == points.count()
    assert "n_name" in back.columns


def test_gdal_formats_ungated_roundtrip(spark, points, tmp_path):
    """The GDAL-format surface works WITHOUT pyogrio: the pure-Python
    GeoPackage/Shapefile/FlatGeobuf paths round-trip WKB exactly."""
    import sys

    from geoparquet_io_spark.sources.gdal_formats import read_gdal, write_gdal

    if "pyogrio" in sys.modules or _has_pyogrio():
        pytest.skip("pyogrio present: dispatch prefers the GDAL path")
    sub = points.df.limit(50)
    from geoparquet_io_spark.geotable import GeoTable

    gt = GeoTable(sub, points.geo)
    exp = sorted(bytes(r[gt.geometry_column]).hex() for r in sub.collect())
    for ext in (".gpkg", ".shp", ".fgb"):
        out = str(tmp_path / f"pts{ext}")
        write_gdal(gt, out)
        back = read_gdal(spark, out)
        got = sorted(bytes(r[back.geometry_column]).hex()
                     for r in back.df.collect())
        assert got == exp, ext


def _has_pyogrio():
    try:
        import pyogrio  # noqa: F401

        return True
    except ImportError:
        return False


def test_max_rows_per_file_rolls(points, spark, tmp_path):
    out = str(tmp_path / "rolled")
    files = points.write(out, max_rows_per_file=300)
    import pyarrow.parquet as pq

    sizes = [pq.read_metadata(f).num_rows for f in files]
    assert sum(sizes) == points.count()
    assert all(s <= 300 for s in sizes)
    assert len(files) >= points.count() // 300
    assert spark.read.parquet(out).count() == points.count()


def test_per_file_bbox_metadata(points, tmp_path):
    """Each partition file's geo footer carries its OWN bbox
    (reference invariant, core/partition_common.py:657-705)."""
    import json

    import pyarrow.parquet as pq
    from geoparquet_io_spark.meta import GeoMeta

    out = str(tmp_path / "pfb")
    files = points.partition_by_string("event_type", out)
    boxes = []
    for f in files:
        g = GeoMeta.from_footer(pq.read_schema(f).metadata)
        assert g is not None and g.primary.bbox is not None, f
        # verify the bbox actually bounds the file's own rows
        t = pq.read_table(f, columns=["bbox"]).to_pandas()
        xs_min = min(b["xmin"] for b in t["bbox"])
        xs_max = max(b["xmax"] for b in t["bbox"])
        assert g.primary.bbox[0] <= xs_min and g.primary.bbox[2] >= xs_max
        boxes.append(tuple(g.primary.bbox))
    # different partitions generally have different extents
    assert len(set(boxes)) > 1


def test_pipe_composition_and_explain(points):
    """pipe() (reference: api/pipeline.py:31-72) + plan summary surface."""
    out = points.pipe(
        lambda t: t.extract(bbox=(-60, -40, 40, 60)),
        lambda t: t.add_quadkey(zoom=5),
        lambda t: t.sort_column("quadkey"),
    )
    assert "quadkey" in out.df.columns
    assert 0 < out.count() < points.count()
    s = out.explain_summary()
    assert s["pushed_filters"] or s["codegen_stages"] >= 0


def test_persist_roundtrip(points):
    """persist() pins rows (StorageLevel visible on the plan) and keeps
    metadata; unpersist releases; a named level is honored."""
    p = points.persist()
    assert p.df.storageLevel.useMemory
    assert p.geometry_column == points.geometry_column
    assert p.count() == points.count()
    u = p.unpersist()
    assert not u.df.storageLevel.useMemory
    d = points.persist("DISK_ONLY")
    assert d.df.storageLevel.useDisk and not d.df.storageLevel.useMemory
    d.unpersist()


def test_per_file_bbox_spill_path(points, tmp_path):
    """Files that outgrow one row group flush it to a streaming writer
    and still end with their exact bbox in the footer."""
    import pyarrow.parquet as pq
    from geoparquet_io_spark.meta import GeoMeta
    from geoparquet_io_spark.sources.geoparquet import write

    out = str(tmp_path / "spill")
    # row_group_rows=50 -> 1000 points in one partition flush 50-row
    # groups before the file closes, so its footer is patched at close
    files = write(points.df.coalesce(1), out, geo=points.geo,
                  per_file_bbox="bbox", row_group_rows=50)
    assert files
    for f in files:
        g = GeoMeta.from_footer(pq.read_schema(f).metadata)
        assert g is not None and g.primary.bbox is not None
        t = pq.read_table(f, columns=["bbox"]).to_pandas()
        assert g.primary.bbox[0] <= min(b["xmin"] for b in t["bbox"])
        assert g.primary.bbox[3] >= max(b["ymax"] for b in t["bbox"])


def test_multi_file_bbox_union_on_read(points, tmp_path):
    """read_footer_geo over a multi-file dataset unions per-file bboxes;
    the dataset bbox must cover every file's extent."""
    import pyarrow.parquet as pq
    from geoparquet_io_spark.meta import GeoMeta
    from geoparquet_io_spark.sources.geoparquet import read_footer_geo

    out = str(tmp_path / "union")
    files = points.partition_by_string("event_type", out)
    assert len(files) > 1
    geo = read_footer_geo(out)
    assert geo is not None and geo.primary.bbox is not None
    per_file = [GeoMeta.from_footer(pq.read_schema(f).metadata).primary.bbox
                for f in files]
    assert geo.primary.bbox[0] == min(b[0] for b in per_file)
    assert geo.primary.bbox[1] == min(b[1] for b in per_file)
    assert geo.primary.bbox[2] == max(b[2] for b in per_file)
    assert geo.primary.bbox[3] == max(b[3] for b in per_file)


def test_geoarrow_extension_typed_read(spark, points, tmp_path):
    """A GeoParquet-2.0-style file (typed geometry column via the GeoArrow
    extension convention, NO 1.x geo footer JSON) reads into the same
    GeoMeta model, and spatial extract works over it."""
    import json

    import pyarrow as pa
    import pyarrow.parquet as pq
    from geoparquet_io_spark.sources.geoparquet import read as gp_read

    pdf = points.df.select("event_id", "geometry").toPandas()
    geom_field = pa.field(
        "geometry", pa.binary(),
        metadata={
            b"ARROW:extension:name": b"geoarrow.wkb",
            b"ARROW:extension:metadata": json.dumps(
                {"crs": {"id": {"authority": "EPSG", "code": 4326}}}).encode(),
        })
    tbl = pa.table(
        {"event_id": pa.array(pdf["event_id"], pa.int64()),
         "geometry": pa.array([bytes(b) for b in pdf["geometry"]], pa.binary())},
        schema=pa.schema([pa.field("event_id", pa.int64()), geom_field]))
    f = str(tmp_path / "gp2.parquet")
    pq.write_table(tbl, f)
    assert pq.read_schema(f).metadata is None or \
        b"geo" not in (pq.read_schema(f).metadata or {})

    gt = gp_read(spark, f)
    assert gt.geo is not None
    assert gt.geo.primary_column == "geometry"
    assert gt.crs == "EPSG:4326"
    sub = gt.extract(bbox=(-60, -40, 40, 60))
    assert 0 < sub.count() < points.count()


def test_write_gdal_real_path_when_pyogrio_present(spark, points, tmp_path):
    """With pyogrio installed the write path is real (write_arrow roundtrip);
    without it the NotImplementedError gate is the ONLY limit."""
    pyogrio = pytest.importorskip("pyogrio")
    from geoparquet_io_spark.sources.gdal_formats import read_gdal, write_gdal

    out = str(tmp_path / "pts.fgb")
    write_gdal(points, out)
    back = read_gdal(spark, out)
    assert back.count() == points.count()


def test_written_files_carry_geoarrow_extension(points, tmp_path):
    """Writes emit BOTH conventions: 1.x geo footer + GeoArrow extension
    field metadata (the GeoParquet 2.0 arrow mapping)."""
    import pyarrow.parquet as pq

    out = str(tmp_path / "both.parquet")
    points.write(out)
    sch = pq.read_schema(out)
    assert b"geo" in sch.metadata
    fld = sch.field("geometry")
    assert (fld.metadata or {}).get(b"ARROW:extension:name") == b"geoarrow.wkb"


def test_admin_catalog_surface_and_local_source(spark, points, tmp_path):
    """Catalog names resolve; a local source override exercises the real
    load path (remote default is network-gated in this container)."""
    from geoparquet_io_spark.functions import geom as G
    from geoparquet_io_spark.sources.admin_catalog import (
        CATALOG, list_admin_datasets, load_admin_dataset,
    )
    from geoparquet_io_spark.testsupport.tables import load_table, nation_boxes

    assert set(list_admin_datasets()) == {"countries", "gaul",
                                          "overture-divisions"}
    CATALOG["countries"].validate_levels(["country"])
    import pytest as _pytest
    with _pytest.raises(ValueError, match="unknown"):
        CATALOG["countries"].validate_levels(["planet"])

    # stand-in countries file: nation boxes written as geoparquet
    n = nation_boxes(load_table(spark, SF_SMOKE, "nation"))
    n = n.withColumn("geometry", G.st_box("xmin", "ymin", "xmax", "ymax")) \
         .withColumnRenamed("n_name", "country").select("country", "geometry")
    from geoparquet_io_spark.geotable import GeoTable
    from geoparquet_io_spark.meta import GeoColumnMeta, GeoMeta

    src = str(tmp_path / "countries.parquet")
    GeoTable(n, GeoMeta(columns={"geometry": GeoColumnMeta()})).write(src)

    gt = load_admin_dataset(spark, "countries", source=src)
    assert gt.count() == 25 and gt.geometry_column == "geometry"

    enriched = points.add_admin_divisions("countries", levels=("country",),
                                          admin_source=src)
    got = enriched.df.filter(F.col("admin:country").isNotNull()).count()
    assert 0 < got <= points.count()


def test_admin_catalog_unknown_name(spark):
    import pytest as _pytest

    from geoparquet_io_spark.sources.admin_catalog import load_admin_dataset

    with _pytest.raises(ValueError, match="unknown admin dataset"):
        load_admin_dataset(spark, "nope")


def test_geotable_simplify_and_hull(spark):
    from pyspark.sql import functions as F

    from geoparquet_io_spark.functions import geom as G
    from geoparquet_io_spark.geotable import GeoTable
    from geoparquet_io_spark.meta import GeoColumnMeta, GeoMeta

    wkt = "POLYGON((0 0, 2 0, 4 0, 4 4, 0 4, 0 0))"   # collinear midpoint
    df = spark.createDataFrame([(1, wkt)], ["id", "w"]) \
        .select("id", G.st_geomfromtext(F.col("w")).alias("geometry"))
    geo = GeoMeta(columns={"geometry": GeoColumnMeta(crs="EPSG:4326")})
    gt = GeoTable(df, geo)
    out = gt.simplify(0.01)
    row = out.df.select(G.st_npoints("geometry").alias("n")).collect()[0]
    assert row["n"] == 5                      # midpoint dropped
    assert out.geometry_column == "geometry"  # metadata preserved
    hull = gt.convex_hull()
    r = hull.df.select(G.st_area("hull").alias("a")).collect()[0]
    assert r["a"] == 16.0


def test_sql_registration_matches_column_api(spark):
    """register_sql_functions: selectExpr / spark.sql results equal the
    fluent column-API results for the same expressions."""
    from pyspark.sql import functions as F

    from geoparquet_io_spark.functions import geom as G
    from geoparquet_io_spark.functions.sqlreg import (
        SQL_FUNCTIONS, register_sql_functions)

    names = register_sql_functions(spark)
    assert names == sorted(SQL_FUNCTIONS)
    df = spark.createDataFrame(
        [(0.0, 0.0), (3.0, 4.0), (-2.5, 7.0)], "x double, y double") \
        .withColumn("g", G.st_point(F.col("x"), F.col("y")))
    df.createOrReplaceTempView("sqlreg_pts")
    got = spark.sql("""
        SELECT st_x(g) AS x2, st_y(g) AS y2, st_astext(g) AS wkt,
               st_npoints(g) AS np,
               st_astext(st_simplify(st_geomfromtext(
                 'LINESTRING(0 0, 1 0, 2 0, 2 5)'), 0.01)) AS simp
        FROM sqlreg_pts ORDER BY x2
    """).collect()
    exp = df.select(
        G.st_x(F.col("g")).alias("x2"), G.st_y(F.col("g")).alias("y2"),
        G.st_astext(F.col("g")).alias("wkt"),
        G.st_npoints(F.col("g")).alias("np"),
    ).orderBy("x2").collect()
    assert [(r["x2"], r["y2"], r["wkt"], r["np"]) for r in got] == \
        [tuple(r) for r in exp]
    assert got[0]["simp"] == "LINESTRING (0 0, 2 0, 2 5)"


def test_write_version_2_roundtrip(points, spark, tmp_path):
    """version='2.0' writes the 2.0 footer + GeoArrow typed columns; our
    own typed-column reader and validate() both accept the output.  On
    pyarrow < 19 the parquet-native GEOMETRY annotation is warned about
    and the documented GeoArrow fallback is emitted."""
    import warnings

    import geoparquet_io_spark as gps
    from geoparquet_io_spark.operators.inspect_check import validate
    from geoparquet_io_spark.sources.geoparquet import (
        _geo_from_arrow_extensions, native_geo_types_supported)

    out = str(tmp_path / "v2.parquet")
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        points.write(out, version="2.0")
    if not native_geo_types_supported():
        assert any("GEOMETRY logical" in str(x.message) for x in w)
    sch = pq.read_schema(out)
    import json

    meta = json.loads(sch.metadata[b"geo"].decode())
    assert meta["version"] == "2.0.0"
    if not native_geo_types_supported():
        # GeoArrow fallback: extension METADATA on a plain binary field
        fld = sch.field(points.geometry_column)
        assert fld.metadata[b"ARROW:extension:name"] == b"geoarrow.wkb"
        # the typed-column read path recognizes our own 2.0 output
        typed = _geo_from_arrow_extensions(sch)
        assert typed is not None and typed.primary is not None
    back = gps.read(spark, out)
    assert back.geo.version == "2.0"
    assert back.df.count() == points.df.count()
    assert validate(spark, out) == []
    # the source GeoTable's own metadata must NOT have been mutated
    assert points.geo.version != "2.0"


@pytest.mark.skipif(
    not __import__("geoparquet_io_spark.sources.geoparquet",
                   fromlist=["native_geo_types_supported"]
                   ).native_geo_types_supported(),
    reason="pyarrow < 19: no canonical GEOMETRY extension type")
def test_write_version_2_native_geometry_roundtrip(points, spark, tmp_path):
    """SKIPPED until the container's pyarrow grows pa.geometry (>= 19):
    the moment it does, version='2.0' writes must carry the
    parquet-native GEOMETRY logical type and still round-trip through
    this repo's reader — verified here without any code change."""
    import geoparquet_io_spark as gps

    out = str(tmp_path / "v2native.parquet")
    points.write(out, version="2.0")
    sch = pq.read_schema(out)
    fld = sch.field(points.geometry_column)
    # native extension type, not plain binary with sidecar metadata
    assert isinstance(fld.type, pa.ExtensionType)
    assert "geo" in str(fld.type).lower()
    back = gps.read(spark, out)
    assert back.df.count() == points.df.count()
    assert sorted(bytes(r[points.geometry_column]).hex()
                  for r in back.df.collect() if r[points.geometry_column]) \
        == sorted(bytes(r[points.geometry_column]).hex()
                  for r in points.df.collect()
                  if r[points.geometry_column])


def test_native_geometry_detect_branch_both_ways(points, monkeypatch):
    """The pyarrow-capability detect gates the schema branch both ways:
    with a (faked) pa.geometry the 2.0 schema uses the native ctor; on
    this container's pyarrow the GeoArrow metadata fallback is used."""
    import pyarrow as _pa

    from geoparquet_io_spark.sources import geoparquet as GP

    calls = {}

    class _FakeGeomType(_pa.ExtensionType):
        def __init__(self, crs=None):
            calls["crs"] = crs
            super().__init__(_pa.binary(), "test.fake_geometry")

        def __arrow_ext_serialize__(self):
            return b""

        @classmethod
        def __arrow_ext_deserialize__(cls, storage_type, serialized):
            return cls()

    monkeypatch.setattr(_pa, "geometry", lambda crs=None: _FakeGeomType(crs),
                        raising=False)
    assert GP.native_geo_types_supported()
    import copy

    geo2 = copy.deepcopy(points.geo)
    geo2.version = "2.0"
    sch = GP._arrow_schema_with_geo(points.df, geo2)
    fld = sch.field(points.geometry_column)
    assert fld.type.extension_name == "test.fake_geometry"
    assert calls["crs"] == points.geo.primary.crs or calls["crs"] is None \
        or calls["crs"] == points.crs
    # 1.x versions never use the native type even when available
    geo1 = copy.deepcopy(points.geo)
    geo1.version = "1.1"
    sch1 = GP._arrow_schema_with_geo(points.df, geo1)
    f1 = sch1.field(points.geometry_column)
    assert f1.metadata[b"ARROW:extension:name"] == b"geoarrow.wkb"
    # without the attr the detect is False and 2.0 falls back to GeoArrow
    monkeypatch.delattr(_pa, "geometry", raising=False)
    if not hasattr(_pa, "geometry_type"):
        assert not GP.native_geo_types_supported()
        sch2 = GP._arrow_schema_with_geo(points.df, geo2)
        f2 = sch2.field(points.geometry_column)
        assert f2.metadata[b"ARROW:extension:name"] == b"geoarrow.wkb"


def test_write_version_unknown_rejected(points, tmp_path):
    with pytest.raises(ValueError, match="unknown GeoParquet version"):
        points.write(str(tmp_path / "x.parquet"), version="3.7")


def test_read_any_to_file_dispatch(spark, points, tmp_path):
    """read_any/to_file cover every container by extension; counts and
    WKB survive each hop."""
    import geoparquet_io_spark as gps
    from geoparquet_io_spark.geotable import GeoTable

    gt = GeoTable(points.df.limit(40), points.geo)
    n = 40
    for ext in (".gpkg", ".fgb", ".geojsonl", ".parquet"):
        out = str(tmp_path / f"any{ext}")
        gt.to_file(out)
        back = gps.read_any(spark, out)
        assert back.df.count() == n, ext
        assert back.geometry_column in back.df.columns
    # tiling method surfaces on the fluent API
    tiled = gt.clip_to_grid(45.0, origin=(-180.0, -90.0))
    assert {"cell_x", "cell_y"} <= set(tiled.df.columns)
    assert tiled.count() >= n


# ---------------------------------------------------------------------------
# core-API review regressions (metadata mutation, reproject staleness,
# footer honesty)
# ---------------------------------------------------------------------------

def test_geomet_primary_read_does_not_mutate():
    from geoparquet_io_spark.meta import GeoMeta

    geo = GeoMeta(primary_column="geom", columns={})
    errs = geo.validate()
    assert any("not in columns" in e for e in errs)
    _ = geo.primary.covering          # read path: must NOT repair
    _ = geo.primary.crs
    assert geo.columns == {}
    assert geo.validate() == errs     # still invalid
    geo.ensure_primary().crs = "EPSG:3857"   # deliberate mutation works
    assert geo.columns["geom"].crs == "EPSG:3857"


def test_with_primary_column_does_not_alias():
    from geoparquet_io_spark.meta import GeoColumnMeta, GeoMeta

    m = GeoMeta(primary_column="geometry",
                columns={"geometry": GeoColumnMeta(crs="EPSG:4326")})
    m2 = m.with_primary_column("geom")
    m2.set_covering("bbox")
    m2.columns["geom"].crs = "EPSG:3857"
    assert m.columns["geometry"].crs == "EPSG:4326"
    assert m.columns["geometry"].covering is None


def test_reproject_drops_stale_bbox_covering(spark, tmp_path):
    from geoparquet_io_spark.queries import _events_points

    gt = _events_points(spark, SF_SMOKE)
    if gt.bbox_column is None:
        gt = gt.add_bbox()
    assert gt.bbox_column == "bbox"
    rp = gt.reproject("EPSG:3857")
    # the old-CRS bbox column and its covering must be GONE
    assert rp.bbox_column is None
    assert "bbox" not in rp.df.columns
    assert rp.geo.primary.covering is None
    # rebuilding gives meter-valued boxes consistent with the geometry
    rb = rp.add_bbox()
    row = rb.df.select("bbox").first()["bbox"]
    assert abs(row["xmin"]) > 180 or abs(row["ymin"]) > 90  # meters now


def test_extract_dropping_geometry_strips_geo_footer(spark, tmp_path):
    import pyarrow.parquet as pq

    from geoparquet_io_spark.queries import _events_points

    gt = _events_points(spark, SF_SMOKE)
    g = gt.geometry_column
    no_geom = gt.extract(exclude_columns=[g])
    assert no_geom.geo is None
    out = str(tmp_path / "nogeom.parquet")
    no_geom.write(out)
    assert b"geo" not in (pq.read_schema(out).metadata or {})


def test_add_bbox_without_geometa_creates_footer(spark, tmp_path):
    import json

    import pyarrow.parquet as pq

    from geoparquet_io_spark.functions import wkb as W
    from geoparquet_io_spark.geotable import GeoTable

    df = spark.createDataFrame(
        [(bytearray(W.encode_point(1.0, 2.0)),)], "geometry binary")
    gt = GeoTable(df).add_bbox()
    assert gt.geo is not None
    out = str(tmp_path / "withbbox.parquet")
    gt.write(out)
    meta = json.loads(pq.read_schema(out).metadata[b"geo"])
    assert "covering" in meta["columns"]["geometry"]


def test_malformed_covering_degrades(spark):
    from geoparquet_io_spark.functions import wkb as W
    from geoparquet_io_spark.geotable import GeoTable
    from geoparquet_io_spark.meta import GeoColumnMeta, GeoMeta

    df = spark.createDataFrame(
        [(bytearray(W.encode_point(1.0, 2.0)),)], "geometry binary")
    geo = GeoMeta(primary_column="geometry",
                  columns={"geometry": GeoColumnMeta(
                      covering={"bbox": {"xmin": []}})})
    gt = GeoTable(df, geo)            # must not crash
    assert gt.bbox_column is None


def test_parquet_geo_only_footer_version_is_semver(spark, tmp_path):
    import json

    import pyarrow.parquet as pq

    from geoparquet_io_spark.queries import _events_points

    gt = _events_points(spark, SF_SMOKE).head(5)
    out = str(tmp_path / "pgo.parquet")
    import warnings as _w
    with _w.catch_warnings():
        _w.simplefilter("ignore")
        gt.write(out, version="parquet-geo-only", update_metadata=False)
    md = pq.read_schema(out).metadata or {}
    if b"geo" in md:                   # fallback footer on old pyarrow
        ver = json.loads(md[b"geo"])["version"]
        assert ver == "2.0.0"          # never the mode sentinel string


def test_single_file_write_failure_preserves_existing(points, spark,
                                                      tmp_path):
    """A failed single-file write must not destroy a pre-existing good
    file: the old code opened ParquetWriter on the destination (truncating
    it) before the data materialized, so a mid-write failure left a
    valid-looking ZERO-ROW parquet where real data used to be (r8
    review)."""
    import pyarrow.parquet as pq

    from geoparquet_io_spark.sources.geoparquet import write

    out = str(tmp_path / "good.parquet")
    write(points.df.select("event_id"), out, None)
    rows_before = pq.read_table(out).num_rows
    assert rows_before > 0
    # a df whose evaluation fails executor-side (ANSI divide by zero)
    bad = points.df.select(
        (F.col("event_id") / F.lit(0)).cast("double").alias("boom"))
    with pytest.raises(Exception):
        write(bad, out, None)
    assert pq.read_table(out).num_rows == rows_before   # untouched
    # and no .inprogress temp left behind
    import os
    leftovers = [f for f in os.listdir(tmp_path)
                 if f.startswith(".inprogress")]
    assert leftovers == []


def test_single_file_write_rejects_incompatible_kwargs(points, tmp_path):
    from geoparquet_io_spark.sources.geoparquet import write

    out = str(tmp_path / "sf.parquet")
    with pytest.raises(ValueError, match="partition_by"):
        write(points.df, out, None, partition_by=["event_type"],
              single_file=True)
    write(points.df.select("event_id"), out, None, single_file=True)
    with pytest.raises(FileExistsError):
        write(points.df.select("event_id"), out, None, single_file=True,
              overwrite=False)


def test_hive_escape_non_ascii_roundtrips(spark, points, tmp_path):
    """Partition values with non-ASCII characters (ord > 0xFF) must
    round-trip: the old %{codepoint:02X} escape emitted 3-4 hex digits
    where Spark's unescape consumes exactly 2 ('a→b' came back as
    'a!92b', r8 review).  Non-ASCII stays raw, like Spark's own writer."""
    from geoparquet_io_spark.geotable import GeoTable
    from geoparquet_io_spark.sources.geoparquet import _hive_escape

    assert _hive_escape("a→b") == "a→b"
    assert _hive_escape("a b") == "a%20b"           # ASCII specials escaped
    assert _hive_escape("50%") == "50%25"
    out = str(tmp_path / "uni_part")
    pts = GeoTable(
        points.df.withColumn(
            "city", F.when(F.col("event_id") % 2 == 0, "São Paulo")
            .otherwise("København → Øst")),
        points.geo)
    pts.write(out, partition_by=["city"], single_file=False)
    back = spark.read.parquet(out)
    vals = {r["city"] for r in back.select("city").distinct().collect()}
    assert vals == {"São Paulo", "København → Øst"}


def test_per_file_bbox_struct_shape_validated(points, tmp_path):
    """A per_file_bbox struct missing xmin/ymin/xmax/ymax must fail
    loudly: get_field_index(-1) silently read the LAST child for every
    bound, stamping wrong footer bboxes (r8 review)."""
    from geoparquet_io_spark.sources.geoparquet import write

    df = points.df.withColumn(
        "bb", F.struct(F.lit(0.0).alias("minx"), F.lit(0.0).alias("miny"),
                       F.lit(1.0).alias("maxx"), F.lit(1.0).alias("maxy")))
    with pytest.raises(ValueError, match="xmin"):
        write(df, str(tmp_path / "bb"), points.geo, per_file_bbox="bb")


def test_empty_append_to_populated_dataset_is_noop(points, spark, tmp_path):
    """write() of ZERO rows with overwrite=False into a dataset that
    already has data must be a no-op — not a phantom
    __HIVE_DEFAULT_PARTITION__ schema file adding per-read probe cost to
    a healthy dataset (r8 review)."""
    import os

    from geoparquet_io_spark.geotable import GeoTable

    out = str(tmp_path / "populated")
    pts = points
    pts.write(out, partition_by=["event_type"], single_file=False)
    n = spark.read.parquet(out).count()
    empty = GeoTable(pts.df.filter(F.lit(False)), pts.geo)
    written = empty.write(out, partition_by=["event_type"],
                          overwrite=False, single_file=False)
    assert written == []
    assert not [d for d in os.listdir(out)
                if "__HIVE_DEFAULT_PARTITION__" in d]
    assert spark.read.parquet(out).count() == n


def test_partition_type_restore_survives_many_null_partition_files(
        points, spark, tmp_path):
    """The schema-only file is found by its filename MARKER, not by sort
    order (r8 ADVICE): data files share the part-NNNNN-{uuid} naming, so
    with >64 null-partition data files whose names sort first, the old
    bounded footer scan silently skipped the recorded-type restore."""
    import glob
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    import geoparquet_io_spark as gps
    from geoparquet_io_spark.geotable import GeoTable

    out = str(tmp_path / "many_null_part")
    pts = GeoTable(
        points.df.withColumn("bucket", (F.col("event_id") % 4).cast("int")),
        points.geo)
    empty = GeoTable(pts.df.filter(F.lit(False)), pts.geo)
    empty.write(out, partition_by=["bucket"], single_file=False)
    schema_files = glob.glob(
        os.path.join(out, "**", "*-schema.parquet"), recursive=True)
    assert len(schema_files) == 1
    d = os.path.dirname(schema_files[0])
    # 70 schema-compatible zero-row data files WITHOUT the footer key,
    # named to sort before the schema file
    tmpl = pq.read_schema(schema_files[0]).remove_metadata()
    for i in range(70):
        pq.write_table(pa.Table.from_batches([], schema=tmpl),
                       os.path.join(d, f"part-00000-{i:08d}.parquet"))
    back = gps.read_partition(spark, out)
    assert back.count() == 0
    assert back.df.schema["bucket"].dataType.simpleString() == "int"
