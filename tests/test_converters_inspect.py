"""CSV/GeoJSON converters + inspect/validate/check operators."""

import json
import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


CSV_WKT = """id,name,wkt,population
1,alpha,POINT (1 2),100
2,beta,"POINT (3 4)",200
3,gamma,POINT (5 6),300
"""

CSV_LATLON = """id,name,latitude,longitude,population
1,alpha,10.5,20.5,100
2,beta,-33.9,151.2,200
"""

TSV_WKT = "id\tname\twkt\n1\ta\tPOINT (7 8)\n2\tb\tPOINT (9 10)\n"

CSV_SEMICOLON = "id;name;wkt\n1;a;POINT (1 1)\n2;b;POINT (2 2)\n"

CSV_INVALID_WKT = """id,wkt
1,POINT (1 2)
2,NOT A GEOMETRY
3,POINT (5 6)
"""

CSV_BAD_LATLON = """id,lat,lon
1,10.0,20.0
2,95.0,20.0
"""


def _write(tmp_path, name, content):
    p = tmp_path / name
    p.write_text(content)
    return str(p)


def test_csv_wkt_autodetect(spark, tmp_path):
    from geoparquet_io_spark.sources.csv_geo import read_csv
    from geoparquet_io_spark.functions import geom as G

    gt = read_csv(spark, _write(tmp_path, "pts.csv", CSV_WKT))
    assert gt.geometry_column == "geometry"
    assert "wkt" not in gt.df.columns
    rows = gt.df.select("id", G.st_astext(F.col("geometry")).alias("w")).collect()
    assert {r["w"] for r in rows} == {"POINT (1 2)", "POINT (3 4)", "POINT (5 6)"}


def test_csv_latlon_autodetect(spark, tmp_path):
    from geoparquet_io_spark.sources.csv_geo import read_csv
    from geoparquet_io_spark.functions import geom as G

    gt = read_csv(spark, _write(tmp_path, "ll.csv", CSV_LATLON))
    assert "latitude" not in gt.df.columns and "longitude" not in gt.df.columns
    rows = gt.df.select(G.st_x(F.col("geometry")).alias("x"),
                        G.st_y(F.col("geometry")).alias("y")).collect()
    assert {(r["x"], r["y"]) for r in rows} == {(20.5, 10.5), (151.2, -33.9)}


def test_tsv_and_semicolon_sniffing(spark, tmp_path):
    from geoparquet_io_spark.sources.csv_geo import read_csv

    assert read_csv(spark, _write(tmp_path, "t.tsv", TSV_WKT)).count() == 2
    assert read_csv(spark, _write(tmp_path, "s.txt", CSV_SEMICOLON)).count() == 2


def test_invalid_wkt_paths(spark, tmp_path):
    from geoparquet_io_spark.sources.csv_geo import read_csv

    p = _write(tmp_path, "bad.csv", CSV_INVALID_WKT)
    assert read_csv(spark, p, skip_invalid=True).count() == 2
    with pytest.raises(Exception):
        read_csv(spark, p, skip_invalid=False).df.collect()


def test_latlon_range_validation(spark, tmp_path):
    from geoparquet_io_spark.sources.csv_geo import read_csv

    p = _write(tmp_path, "rng.csv", CSV_BAD_LATLON)
    assert read_csv(spark, p, lat_column="lat", lon_column="lon",
                    skip_invalid=True).count() == 1
    with pytest.raises(Exception):
        read_csv(spark, p, lat_column="lat", lon_column="lon").df.collect()


def test_csv_roundtrip(spark, tmp_path):
    from geoparquet_io_spark.sources.csv_geo import read_csv, write_csv

    gt = read_csv(spark, _write(tmp_path, "in.csv", CSV_WKT))
    out = str(tmp_path / "out.csv")
    write_csv(gt, out)
    gt2 = read_csv(spark, out)
    assert gt2.count() == 3
    assert set(gt2.df.columns) >= {"id", "name", "population", "geometry"}


def test_geojson_roundtrip(spark, tmp_path):
    from geoparquet_io_spark.queries import _events_points
    from geoparquet_io_spark.sources.geojson import read_geojson, write_geojson

    gt = _events_points(spark, SF_SMOKE).head(50)
    out = str(tmp_path / "pts.geojson")
    write_geojson(gt, out)
    doc = json.loads(open(out).read())
    assert doc["type"] == "FeatureCollection"
    assert len(doc["features"]) == 50
    f0 = doc["features"][0]
    assert f0["geometry"]["type"] == "Point"
    assert "event_type" in f0["properties"]
    back = read_geojson(spark, out)
    assert back.count() == 50


def test_structure_and_validate(spark, tmp_path):
    from geoparquet_io_spark.queries import _events_points
    from geoparquet_io_spark.operators.inspect_check import (
        check_structure, inspect_head, inspect_summary, validate,
    )

    gt = _events_points(spark, SF_SMOKE)
    out = str(tmp_path / "v.parquet")
    gt.write(out)
    rep = check_structure(out)
    assert rep.has_geo_metadata and rep.has_bbox_covering
    assert rep.ok, rep.issues
    assert validate(spark, out) == []
    s = inspect_summary(out)
    assert s["rows"] == gt.count() and s["geo"]["primary_column"] == "geometry"
    head = inspect_head(spark, out, 5)
    assert head.count() == 5
    assert head.collect()[0]["geometry"].startswith("POINT")


def test_validate_catches_bad_declared_types(spark, tmp_path):
    from geoparquet_io_spark.queries import _events_points
    from geoparquet_io_spark.operators.inspect_check import validate

    gt = _events_points(spark, SF_SMOKE)
    gt.geo.primary.geometry_types = ["Polygon"]  # data is points
    out = str(tmp_path / "bad.parquet")
    # the writer stamps the types it sees; only as-given metadata can lie
    gt.write(out, update_metadata=False)
    errs = validate(spark, out)
    assert any("undeclared" in e for e in errs)


def test_check_fixes(spark, tmp_path):
    from geoparquet_io_spark.functions import geom as G
    from geoparquet_io_spark.geotable import GeoTable
    from geoparquet_io_spark.meta import GeoColumnMeta, GeoMeta
    from geoparquet_io_spark.operators.inspect_check import check_fixes, check_structure
    from geoparquet_io_spark.testsupport.tables import event_lonlat, load_table

    # a file with NO bbox column
    ev = event_lonlat(load_table(spark, SF_SMOKE, "events"))
    df = ev.withColumn("geometry", G.st_point(F.col("lon"), F.col("lat")))
    gt = GeoTable(df, GeoMeta(columns={"geometry": GeoColumnMeta()}))
    src = str(tmp_path / "nofix.parquet")
    gt.write(src)
    dst = str(tmp_path / "fixed.parquet")
    applied = check_fixes(spark, src, dst, hilbert=True)
    assert any("bbox" in a for a in applied)
    rep = check_structure(dst)
    assert rep.has_bbox_covering and rep.ok


def test_crs_mismatch_warning(spark):
    """Geographic-looking bbox against projected CRS -> warning
    (reference: core/extract.py:104-247)."""
    import warnings

    from geoparquet_io_spark.queries import _events_points

    gt = _events_points(spark, SF_SMOKE).reproject("EPSG:3857")
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        gt.extract(bbox=(-60, -40, 40, 60))
        assert any("projected" in str(x.message) for x in w)
    # projected-looking bbox: no warning
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        gt.extract(bbox=(-6e6, -4e6, 4e6, 6e6))
        assert not w


def test_read_partition_merge_schema(spark, tmp_path):
    """union_by_name / mergeSchema across partition files with a dropped
    column (FIXTURES.md F3 requirement)."""
    import geoparquet_io_spark as gps
    from geoparquet_io_spark.queries import _events_points

    gt = _events_points(spark, SF_SMOKE)
    d = str(tmp_path / "mixed")
    a = gt.df.filter("event_type = 'click'")
    b = gt.df.filter("event_type <> 'click'").drop("props")
    gt._wrap(a).write(d + "/part_a")
    gt._wrap(b).write(d + "/part_b")
    merged = gps.read_partition(spark, d, hive_partitioning=False, allow_schema_diff=True)
    assert merged.count() == gt.count()
    assert "props" in merged.df.columns
    nulls = merged.df.filter("props IS NULL").count()
    assert nulls == b.count()


def _valid_points_file(spark, tmp_path, name="v.parquet"):
    from geoparquet_io_spark.queries import _events_points

    gt = _events_points(spark, SF_SMOKE)
    out = str(tmp_path / name)
    gt.write(out)
    return gt, out


def _rewrite_with_geo(path, mutate):
    """Rewrite a single parquet file with a mutated geo footer JSON."""
    import json

    import pyarrow.parquet as pq

    tbl = pq.read_table(path)
    g = json.loads(tbl.schema.metadata[b"geo"])
    mutate(g)
    tbl = tbl.replace_schema_metadata(
        {**tbl.schema.metadata, b"geo": json.dumps(g).encode()})
    pq.write_table(tbl, path)


def test_validate_catches_broken_covering_path(spark, tmp_path):
    from geoparquet_io_spark.operators.inspect_check import validate

    _, out = _valid_points_file(spark, tmp_path)

    def mutate(g):
        g["columns"]["geometry"]["covering"]["bbox"]["xmin"] = ["nope", "xmin"]
    _rewrite_with_geo(out, mutate)
    errs = validate(spark, out)
    assert any("missing column 'nope'" in e for e in errs), errs


def test_validate_catches_covering_wrong_field(spark, tmp_path):
    from geoparquet_io_spark.operators.inspect_check import validate

    _, out = _valid_points_file(spark, tmp_path)

    def mutate(g):
        g["columns"]["geometry"]["covering"]["bbox"]["ymax"] = ["bbox", "xmin"]
    _rewrite_with_geo(out, mutate)
    errs = validate(spark, out)
    assert any("points at field" in e for e in errs), errs


def test_validate_catches_malformed_wkb(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq
    from geoparquet_io_spark.operators.inspect_check import validate

    _, out = _valid_points_file(spark, tmp_path)
    tbl = pq.read_table(out)
    # corrupt every geometry blob's byte-order marker
    bad = pa.array([b"\x07garbagegarbage" for _ in range(tbl.num_rows)],
                   pa.binary())
    tbl = tbl.set_column(tbl.schema.get_field_index("geometry"), "geometry", bad)
    tbl = tbl.replace_schema_metadata(tbl.schema.metadata)
    pq.write_table(tbl, out)
    errs = validate(spark, out)
    assert any("byte-order marker" in e for e in errs), errs


def test_validate_catches_per_file_bbox_lie(spark, tmp_path):
    """A multi-file dataset where ONE file's footer bbox doesn't contain
    its data must fail validation (first-file-only checks miss this)."""
    import json

    import pyarrow.parquet as pq
    from geoparquet_io_spark.operators.inspect_check import validate
    from geoparquet_io_spark.queries import _events_points

    gt = _events_points(spark, SF_SMOKE)
    out = str(tmp_path / "pf")
    files = gt.partition_by_string("event_type", out)
    assert len(files) > 1
    assert validate(spark, out) == []
    # shrink the LAST file's declared bbox to a lie
    f = files[-1]
    tbl = pq.read_table(f)
    g = json.loads(tbl.schema.metadata[b"geo"])
    g["columns"]["geometry"]["bbox"] = [0.0, 0.0, 0.5, 0.5]
    tbl = tbl.replace_schema_metadata(
        {**tbl.schema.metadata, b"geo": json.dumps(g).encode()})
    pq.write_table(tbl, f)
    errs = validate(spark, out)
    assert any("does not contain its data extent" in e for e in errs), errs


def test_validate_catches_clockwise_orientation(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq
    import json

    import numpy as np
    from geoparquet_io_spark.functions import wkb as _wkb
    from geoparquet_io_spark.operators.inspect_check import validate

    # clockwise square (negative shoelace area)
    cw = _wkb.encode_polygon([np.array(
        [[0.0, 0.0], [0.0, 1.0], [1.0, 1.0], [1.0, 0.0], [0.0, 0.0]])])
    geo = {"version": "1.1.0", "primary_column": "geometry",
           "columns": {"geometry": {"encoding": "WKB",
                                    "geometry_types": ["Polygon"],
                                    "orientation": "counterclockwise"}}}
    tbl = pa.table({"id": pa.array([1], pa.int64()),
                    "geometry": pa.array([cw], pa.binary())})
    tbl = tbl.replace_schema_metadata({b"geo": json.dumps(geo).encode()})
    f = str(tmp_path / "cw.parquet")
    pq.write_table(tbl, f)
    errs = validate(spark, f)
    assert any("wind clockwise" in e for e in errs), errs


def test_validate_catches_out_of_range_lonlat(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq
    import json

    from geoparquet_io_spark.functions import wkb as _wkb
    from geoparquet_io_spark.operators.inspect_check import validate

    pt = _wkb.encode_point(512.0, 23.0)  # lon out of range for EPSG:4326
    geo = {"version": "1.1.0", "primary_column": "geometry",
           "columns": {"geometry": {"encoding": "WKB",
                                    "geometry_types": ["Point"],
                                    "crs": "EPSG:4326"}}}
    tbl = pa.table({"id": pa.array([1], pa.int64()),
                    "geometry": pa.array([pt], pa.binary())})
    tbl = tbl.replace_schema_metadata({b"geo": json.dumps(geo).encode()})
    f = str(tmp_path / "oob.parquet")
    pq.write_table(tbl, f)
    errs = validate(spark, f)
    assert any("geographic CRS bounds" in e for e in errs), errs


def test_check_fixes_remove_bbox(spark, tmp_path):
    """fix_bbox_removal parity (core/check_fixes.py:143-208): the bbox
    column AND its covering metadata disappear from the output."""
    from geoparquet_io_spark.functions import geom as G
    from geoparquet_io_spark.geotable import GeoTable
    from geoparquet_io_spark.meta import GeoColumnMeta, GeoMeta
    from geoparquet_io_spark.operators.inspect_check import (
        check_fixes, check_structure)
    from geoparquet_io_spark.testsupport.tables import (
        event_lonlat, load_table)
    import geoparquet_io_spark as gps

    ev = event_lonlat(load_table(spark, SF_SMOKE, "events")).limit(200)
    df = ev.withColumn("geometry", G.st_point(F.col("lon"), F.col("lat")))
    gt = GeoTable(df, GeoMeta(columns={"geometry": GeoColumnMeta()})) \
        .add_bbox()
    src = str(tmp_path / "withbbox.parquet")
    gt.write(src)
    assert check_structure(src).has_bbox_covering
    dst = str(tmp_path / "nobbox.parquet")
    applied = check_fixes(spark, src, dst, remove_bbox=True)
    assert any("removed bbox" in a for a in applied)
    back = gps.read(spark, dst)
    assert "bbox" not in back.df.columns
    assert back.geo.primary.covering is None
    assert back.df.count() == 200
    assert not check_structure(dst).has_bbox_covering


def test_check_fixes_bbox_metadata_only(spark, tmp_path):
    """fix_bbox_metadata parity (core/check_fixes.py:118-141): a file
    whose bbox column exists but is undeclared gets the covering
    registered without altering any column."""
    from geoparquet_io_spark.functions import geom as G
    from geoparquet_io_spark.geotable import GeoTable
    from geoparquet_io_spark.meta import GeoColumnMeta, GeoMeta
    from geoparquet_io_spark.operators.inspect_check import (
        check_fixes, check_structure)
    from geoparquet_io_spark.testsupport.tables import (
        event_lonlat, load_table)
    import geoparquet_io_spark as gps

    ev = event_lonlat(load_table(spark, SF_SMOKE, "events")).limit(100)
    df = ev.withColumn("geometry", G.st_point(F.col("lon"), F.col("lat")))
    gt = GeoTable(df, GeoMeta(columns={"geometry": GeoColumnMeta()})) \
        .add_bbox()
    # strip the covering declaration but keep the column
    undeclared = GeoTable(gt.df, GeoMeta(columns={
        "geometry": GeoColumnMeta()}))
    src = str(tmp_path / "undeclared.parquet")
    undeclared.write(src)
    assert not check_structure(src).has_bbox_covering
    dst = str(tmp_path / "declared.parquet")
    applied = check_fixes(spark, src, dst, bbox_metadata_only=True)
    assert any("metadata" in a for a in applied)
    assert check_structure(dst).has_bbox_covering
    back = gps.read(spark, dst)
    assert sorted(back.df.columns) == sorted(gt.df.columns)
    assert back.df.count() == 100


def test_check_fixes_guards(spark, tmp_path):
    from geoparquet_io_spark.functions import geom as G
    from geoparquet_io_spark.geotable import GeoTable
    from geoparquet_io_spark.meta import GeoColumnMeta, GeoMeta
    from geoparquet_io_spark.operators.inspect_check import check_fixes
    from geoparquet_io_spark.testsupport.tables import (
        event_lonlat, load_table)

    ev = event_lonlat(load_table(spark, SF_SMOKE, "events")).limit(10)
    df = ev.withColumn("geometry", G.st_point(F.col("lon"), F.col("lat")))
    gt = GeoTable(df, GeoMeta(columns={"geometry": GeoColumnMeta()}))
    src = str(tmp_path / "plain.parquet")
    gt.write(src)
    with pytest.raises(ValueError, match="exclusive"):
        check_fixes(spark, src, str(tmp_path / "x.parquet"),
                    remove_bbox=True, bbox_metadata_only=True)
    with pytest.raises(ValueError, match="no bbox column"):
        check_fixes(spark, src, str(tmp_path / "x.parquet"),
                    remove_bbox=True)
    with pytest.raises(ValueError, match="existing bbox column"):
        check_fixes(spark, src, str(tmp_path / "x.parquet"),
                    bbox_metadata_only=True)


def test_patch_footer_metadata_o_footer(spark, tmp_path):
    """Footer patch updates KV metadata without touching data pages:
    file grows by ~footer bytes only, every reader sees the new
    metadata AND the same rows (pyarrow + DuckDB)."""
    import json

    import duckdb
    import pyarrow.parquet as pq

    from geoparquet_io_spark.sources.geoparquet import (
        patch_footer_metadata)

    src = str(tmp_path / "p.parquet")
    spark.range(5000).selectExpr("id", "id * 2 AS v") \
        .coalesce(1).write.parquet(str(tmp_path / "d"))
    import glob as g
    import shutil

    shutil.copy(g.glob(str(tmp_path / "d" / "*.parquet"))[0], src)
    size0 = os.path.getsize(src)
    added = patch_footer_metadata(src, {"geo": '{"version":"1.1.0"}',
                                        "note": b"patched"})
    assert os.path.getsize(src) == size0 + added
    assert added < 3000                          # footer-sized, not data
    sch = pq.read_schema(src)
    assert json.loads(sch.metadata[b"geo"])["version"] == "1.1.0"
    assert sch.metadata[b"note"] == b"patched"
    assert pq.read_table(src).num_rows == 5000
    assert duckdb.sql(
        f"SELECT count(*), sum(v) FROM read_parquet('{src}')"
    ).fetchall() == [(5000, 2 * sum(range(5000)))]
    # delete a key
    patch_footer_metadata(src, {"note": None})
    assert b"note" not in (pq.read_schema(src).metadata or {})
    assert pq.read_table(src).num_rows == 5000


# -- O(footers) dataset bounds ----------------------------------------------

def _bbox_file(path, xs, ys, with_stats=True):
    """Plain parquet with a bbox covering struct, NO geo footer."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pa.table({
        "id": pa.array(range(len(xs)), pa.int64()),
        "bbox": pa.StructArray.from_arrays(
            [pa.array(xs, pa.float64()), pa.array(ys, pa.float64()),
             pa.array(xs, pa.float64()), pa.array(ys, pa.float64())],
            names=["xmin", "ymin", "xmax", "ymax"]),
    })
    pq.write_table(t, path, write_statistics=with_stats)


def test_bounds_from_bbox_statistics(spark, tmp_path):
    from geoparquet_io_spark.operators.inspect_check import (
        bounds_from_metadata, file_bounds_from_metadata,
    )

    _bbox_file(str(tmp_path / "a.parquet"), [1.0, 5.0], [2.0, -3.0])
    _bbox_file(str(tmp_path / "b.parquet"), [-7.5, 0.25], [9.0, 4.0])
    assert file_bounds_from_metadata(str(tmp_path / "a.parquet")) == \
        (1.0, -3.0, 5.0, 2.0)
    assert bounds_from_metadata(spark, str(tmp_path)) == \
        (-7.5, -3.0, 5.0, 9.0)


def test_bounds_and_validate_handle_3d_footer_bbox(spark, tmp_path):
    """A 6-element footer bbox ([xmin,ymin,zmin,xmax,ymax,zmax]) must
    read as the PLANAR envelope everywhere — positionally-as-2D
    returned (xmin, ymin, zmin, xmax): z leaked into the envelope and
    validate's containment check false-errored (same class as the r6
    manifest bug, different consumers)."""
    import json

    import pyarrow.parquet as pq

    from geoparquet_io_spark.operators.inspect_check import (
        file_bounds_from_metadata, validate)
    from geoparquet_io_spark.queries import _events_points
    from geoparquet_io_spark.sources.geoparquet import patch_footer_metadata

    p = str(tmp_path / "d3")
    _events_points(spark, SF_SMOKE).write(p)
    f = [os.path.join(p, x) for x in os.listdir(p)
         if x.endswith(".parquet")][0]
    meta = json.loads(pq.read_schema(f).metadata[b"geo"])
    col = meta["columns"][meta["primary_column"]]
    x0, y0, x1, y1 = col["bbox"]
    col["bbox"] = [x0, y0, 0.0, x1, y1, 5.0]       # legal 3D form
    patch_footer_metadata(f, {"geo": json.dumps(meta)})
    assert file_bounds_from_metadata(f) == (x0, y0, x1, y1)
    # validate on the single 3D-footer file: the containment check must
    # compare the planar parts (zmin-as-xmax made real data "overflow")
    errs = validate(spark, f)
    assert not any("does not contain" in e for e in errs), errs


def test_bbox_union_mixed_dimensions():
    from geoparquet_io_spark.meta import bbox_2d, bbox_union

    assert bbox_2d([1, 2, 3, 4]) == (1, 2, 3, 4)
    assert bbox_2d([1, 2, -9, 3, 4, 9]) == (1, 2, 3, 4)
    assert bbox_2d(None) is None
    assert bbox_union([0, 0, 1, 1], [2, -1, 3, 0]) == [0, -1, 3, 1]
    # 3D + 3D keeps Z
    assert bbox_union([0, 0, -5, 1, 1, 5], [2, -1, -9, 3, 0, 2]) == \
        [0, -1, -9, 3, 1, 5]
    # mixed projects to 2D (zmin never leaks into xmax)
    assert bbox_union([0, 0, -5, 1, 1, 5], [2, -1, 3, 0]) == [0, -1, 3, 1]
    assert bbox_union(None, [0, 0, 1, 1]) is None


def test_bounds_metadata_unavailable_returns_none(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from geoparquet_io_spark.operators.inspect_check import (
        bounds_from_metadata,
    )

    # one stamped file + one with neither geo footer nor bbox stats
    _bbox_file(str(tmp_path / "a.parquet"), [1.0], [2.0])
    pq.write_table(pa.table({"id": pa.array([1, 2], pa.int64())}),
                   str(tmp_path / "plain.parquet"))
    assert bounds_from_metadata(spark, str(tmp_path)) is None


def test_bounds_metadata_skips_empty_files(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from geoparquet_io_spark.operators.inspect_check import (
        bounds_from_metadata,
    )

    _bbox_file(str(tmp_path / "a.parquet"), [3.0], [4.0])
    schema = pa.schema([("id", pa.int64()), ("bbox", pa.struct(
        [("xmin", pa.float64()), ("ymin", pa.float64()),
         ("xmax", pa.float64()), ("ymax", pa.float64())]))])
    pq.write_table(schema.empty_table(), str(tmp_path / "empty.parquet"))
    assert bounds_from_metadata(spark, str(tmp_path)) == (3.0, 4.0, 3.0, 4.0)


def test_bounds_metadata_distributed_sweep(spark, tmp_path):
    from geoparquet_io_spark.operators.inspect_check import (
        bounds_from_metadata,
    )

    for i in range(12):  # every file count reads its footers on the driver
        _bbox_file(str(tmp_path / f"f{i:02d}.parquet"),
                   [float(i)], [float(-i)])
    sc = spark.sparkContext
    group = "bounds-metadata-no-jobs"
    sc.setJobGroup(group, "bounds_from_metadata")
    try:
        assert bounds_from_metadata(spark, str(tmp_path)) == \
            (0.0, -11.0, 11.0, 0.0)
    finally:
        sc.setJobGroup(None, None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []


def test_bounds_metadata_prefers_footer_geo_bbox(spark, tmp_path):
    from geoparquet_io_spark.operators.inspect_check import (
        file_bounds_from_metadata,
    )
    from geoparquet_io_spark.sources.geoparquet import write
    from geoparquet_io_spark.testsupport.tables import load_table

    ev = load_table(spark, SF_SMOKE, "events").limit(50)
    from geoparquet_io_spark.queries import _points_table

    gt = _points_table(
        ev.selectExpr("event_id",
                      "cast(event_id % 7 as double) - 3.0 as lon",
                      "cast(event_id % 5 as double) as lat"))
    out = str(tmp_path / "ds")
    write(gt.df, out, geo=gt.geo, per_file_bbox="bbox")
    files = [f for f in os.listdir(out) if f.endswith(".parquet")]
    b = file_bounds_from_metadata(os.path.join(out, files[0]))
    assert b is not None and b[0] <= b[2] and b[1] <= b[3]


def test_sort_hilbert_accepts_precomputed_env(spark):
    from geoparquet_io_spark.queries import _events_points

    gt = _events_points(spark, SF_SMOKE)
    auto = gt.sort_hilbert(keep_key=True)
    manual = gt.sort_hilbert(keep_key=True, env=gt.bounds())
    a = [r["__hilbert"] for r in auto.df.select("__hilbert").collect()]
    m = [r["__hilbert"] for r in manual.df.select("__hilbert").collect()]
    assert a == m


def test_validate_stray_file_does_not_gate_data_checks(spark, tmp_path):
    """A harmless sidecar file must not short-circuit the WKB/bbox/data
    checks — a corrupt-WKB dataset with a README used to pass with only
    the stray-file notice."""
    from geoparquet_io_spark.queries import _events_points
    from geoparquet_io_spark.operators.inspect_check import validate

    gt = _events_points(spark, SF_SMOKE)
    gt.geo.primary.geometry_types = ["Polygon"]  # data is points -> error
    out = str(tmp_path / "straydir")
    gt.write(out, single_file=False, update_metadata=False)
    with open(f"{out}/README.txt", "w") as fh:
        fh.write("notes")
    errs = validate(spark, out)
    assert any("excluded from validation" in e for e in errs)
    assert any("undeclared" in e for e in errs), \
        "stray-file notice gated the data checks"


def test_validate_accepts_3d_declared_types(spark, tmp_path):
    """'Polygon Z'-style declared types are spec-compliant; the base-type
    comparison must not flag them as undeclared."""
    from geoparquet_io_spark.queries import _events_points
    from geoparquet_io_spark.operators.inspect_check import validate

    gt = _events_points(spark, SF_SMOKE)
    gt.geo.primary.geometry_types = ["Point Z", "Point"]
    out = str(tmp_path / "z.parquet")
    gt.write(out, update_metadata=False)
    errs = validate(spark, out)
    assert not any("undeclared" in e for e in errs), errs


def test_validate_orientation_skips_empty_polygon(spark, tmp_path):
    """POLYGON EMPTY (zero rings) must not crash the orientation check."""
    import struct

    from geoparquet_io_spark.geotable import GeoTable
    from geoparquet_io_spark.meta import GeoColumnMeta, GeoMeta
    from geoparquet_io_spark.operators.inspect_check import validate

    # little-endian WKB: POLYGON with numRings=0, and one valid CCW ring
    empty_poly = struct.pack("<BII", 1, 3, 0)
    ccw = struct.pack("<BII", 1, 3, 1) + struct.pack("<I", 4) + struct.pack(
        "<8d", 0, 0, 1, 0, 1, 1, 0, 0)
    df = spark.createDataFrame(
        [(1, bytearray(empty_poly)), (2, bytearray(ccw))], ["id", "geometry"])
    geo = GeoMeta(columns={"geometry": GeoColumnMeta(
        geometry_types=["Polygon"], orientation="counterclockwise")})
    out = str(tmp_path / "emptypoly.parquet")
    GeoTable(df, geo).write(out, update_metadata=False)
    errs = validate(spark, out)  # must not raise IndexError
    assert not any("clockwise" in e for e in errs), errs


def test_inspect_summary_row_groups_dataset_wide(spark, tmp_path):
    from geoparquet_io_spark.queries import _events_points
    from geoparquet_io_spark.operators.inspect_check import inspect_summary

    gt = _events_points(spark, SF_SMOKE)
    out = str(tmp_path / "multi")
    gt.df.repartition(4)  # not used for write; write distributed
    files = gt.write(out, single_file=False, row_group_rows=100)
    s = inspect_summary(out)
    assert s["files"] == len(files)
    total_groups = sum(
        __import__("pyarrow.parquet", fromlist=["x"]).read_metadata(f).num_row_groups
        for f in files)
    assert s["row_groups"] == total_groups


# ---------------------------------------------------------------------------
# IO review-sweep regressions (geojson 3D/collections/empties, csv dialect,
# per-file bbox nulls, write commit protocol)
# ---------------------------------------------------------------------------

def test_geojson_3d_coords_truncated_not_interleaved(spark, tmp_path):
    import json

    from geoparquet_io_spark.functions import wkb as W
    from geoparquet_io_spark.sources.geojson import read_geojson

    doc = {"type": "FeatureCollection", "features": [
        {"type": "Feature", "properties": {"id": 1},
         "geometry": {"type": "LineString",
                      "coordinates": [[1, 2, 5], [3, 4, 6]]}},
        {"type": "Feature", "properties": {"id": 2},
         "geometry": {"type": "MultiPoint",
                      "coordinates": [[7, 8, 9], [10, 11, 12]]}},
        {"type": "Feature", "properties": {"id": 3},
         "geometry": {"type": "Polygon",
                      "coordinates": [[[0, 0, 1], [4, 0, 1], [0, 4, 1],
                                       [0, 0, 1]]]}},
    ]}
    p = tmp_path / "f3d.geojson"
    p.write_text(json.dumps(doc))
    gt = read_geojson(spark, str(p))
    by_id = {r["id"]: bytes(r["geometry"]) for r in gt.df.collect()}
    ls = W.parse(by_id[1])
    assert [tuple(c) for c in ls.parts[0]] == [(1.0, 2.0), (3.0, 4.0)]
    mp = W.parse(by_id[2])
    assert [tuple(c.parts[0][0]) for c in mp.children] == [(7.0, 8.0), (10.0, 11.0)]
    assert W.area(by_id[3]) == 8.0


def test_geojson_geometrycollection_and_empty_roundtrip(spark, tmp_path):
    import json

    from geoparquet_io_spark.functions import wkt as Wt
    from geoparquet_io_spark.geotable import GeoTable
    from geoparquet_io_spark.meta import GeoColumnMeta, GeoMeta
    from geoparquet_io_spark.sources.geojson import read_geojson, write_geojson

    rows = [(bytearray(Wt.from_wkt(
        "GEOMETRYCOLLECTION (POINT (1 2), LINESTRING (0 0, 2 0))")), "gc"),
        (bytearray(Wt.from_wkt("POINT EMPTY")), "empty")]
    df = spark.createDataFrame(rows, "geometry binary, name string")
    gt = GeoTable(df, GeoMeta(primary_column="geometry",
                              columns={"geometry": GeoColumnMeta()}))
    p = str(tmp_path / "gc.geojson")
    write_geojson(gt, p)
    doc = json.loads(open(p).read())   # strict parse: NaN tokens would fail
    types = {f["properties"]["name"]: f["geometry"]["type"]
             for f in doc["features"]}
    assert types == {"gc": "GeometryCollection", "empty": "Point"}
    empt = [f for f in doc["features"]
            if f["properties"]["name"] == "empty"][0]
    assert empt["geometry"]["coordinates"] == []
    back = read_geojson(spark, p)
    got = {r["name"]: Wt.to_wkt(bytes(r["geometry"])) for r in back.df.collect()}
    assert got["gc"] == "GEOMETRYCOLLECTION (POINT (1 2), LINESTRING (0 0, 2 0))"
    assert got["empty"] == "POINT EMPTY"


def test_geojson_heterogeneous_properties(spark, tmp_path):
    import json

    from geoparquet_io_spark.sources.geojson import read_geojson

    doc = {"type": "FeatureCollection", "features": [
        {"type": "Feature", "properties": {"name": "a"},
         "geometry": {"type": "Point", "coordinates": [1, 2]}},
        {"type": "Feature", "properties": {"pop": 5},
         "geometry": {"type": "Point", "coordinates": [3, 4]}},
        {"type": "Feature", "properties": {"pop": 6.5, "name": "c"},
         "geometry": None},
    ]}
    p = tmp_path / "het.geojson"
    p.write_text(json.dumps(doc))
    gt = read_geojson(spark, str(p))
    assert set(gt.df.columns) == {"name", "pop", "geometry"}
    assert dict(gt.df.dtypes)["pop"] == "double"   # long+double widened
    rows = sorted(gt.df.select("name", "pop").collect(),
                  key=lambda r: (r["name"] or ""))
    assert [tuple(r) for r in rows] == [(None, 5.0), ("a", None), ("c", 6.5)]


def test_geojsonl_schema_drift_fails_loud(spark, tmp_path):
    import json

    from geoparquet_io_spark.sources.geojson import read_geojsonl

    lines = [json.dumps({"type": "Feature", "properties": {"n": 1},
                         "geometry": {"type": "Point", "coordinates": [0, 0]}}),
             json.dumps({"type": "Feature", "properties": {"n": 2.7},
                         "geometry": {"type": "Point", "coordinates": [1, 1]}})]
    p = tmp_path / "drift.geojsonl"
    p.write_text("\n".join(lines) + "\n")
    gt = read_geojsonl(spark, str(p), sample_lines=1)
    with pytest.raises(Exception, match="fractional"):
        gt.df.collect()
    # late NEW key fails loud too (was silently dropped)
    lines2 = [json.dumps({"type": "Feature", "properties": {"n": 1},
                          "geometry": None}),
              json.dumps({"type": "Feature", "properties": {"n": 2, "x": "y"},
                          "geometry": None})]
    p2 = tmp_path / "latekey.geojsonl"
    p2.write_text("\n".join(lines2) + "\n")
    with pytest.raises(Exception, match="sample_lines"):
        read_geojsonl(spark, str(p2), sample_lines=1).df.collect()
    # the remedy works
    assert read_geojsonl(spark, str(p2), sample_lines=10).df.count() == 2


def test_csv_explicit_delimiter_and_padded_header(spark, tmp_path):
    from geoparquet_io_spark.sources.csv_geo import read_csv

    # decimal commas would make the sniffer pick ',' and split wrong
    p = tmp_path / "semi.csv"
    p.write_text("id;geometry;note\n1;POINT (1 2);a,b\n2;POINT (3 4);c,d\n")
    gt = read_csv(spark, str(p), delimiter=";")
    assert gt.count() == 2
    # padded header names must match Spark's (unstripped) columns
    p2 = tmp_path / "pad.csv"
    p2.write_text("id, wkt, name\n1, POINT (5 6), x\n")
    gt2 = read_csv(spark, str(p2))
    assert gt2.count() == 1


def test_per_file_bbox_ignores_null_bbox_rows(spark, tmp_path):
    import pyarrow.parquet as pq

    from geoparquet_io_spark.functions import wkb as W
    from geoparquet_io_spark.geotable import GeoTable
    from geoparquet_io_spark.meta import GeoColumnMeta, GeoMeta
    from geoparquet_io_spark.sources.geoparquet import write

    rows = [(bytearray(W.encode_point(5.0, 6.0)),
             {"xmin": 5.0, "ymin": 6.0, "xmax": 5.0, "ymax": 6.0}),
            (None, None)]
    df = spark.createDataFrame(
        rows, "geometry binary, bbox struct<xmin:double,ymin:double,"
        "xmax:double,ymax:double>").coalesce(1)
    geo = GeoMeta(primary_column="geometry",
                  columns={"geometry": GeoColumnMeta()})
    files = write(df, str(tmp_path / "d"), geo=geo, single_file=False,
                  per_file_bbox="bbox")
    import json
    meta = json.loads(pq.read_schema(files[0]).metadata[b"geo"])
    # a null bbox row must NOT drag the footer bbox to 0.0
    assert meta["columns"]["geometry"]["bbox"] == [5.0, 6.0, 5.0, 6.0]


def test_distributed_write_sweeps_orphan_attempts(spark, tmp_path):
    from geoparquet_io_spark.functions import wkb as W
    from geoparquet_io_spark.meta import GeoColumnMeta, GeoMeta
    from geoparquet_io_spark.sources.geoparquet import write

    df = spark.createDataFrame(
        [(bytearray(W.encode_point(1.0, 2.0)), 1)],
        "geometry binary, id long").coalesce(1)
    out = tmp_path / "d"
    out.mkdir()
    # another JOB's in-flight file: NOT ours to sweep (it may be a live
    # concurrent appender's commit manifest — r7 scoping fix)
    foreign = out / ".inprogress-0123456789ab-part-00009-deadbeef.parquet"
    foreign.write_bytes(b"other writer in flight")
    geo = GeoMeta(primary_column="geometry",
                  columns={"geometry": GeoColumnMeta()})
    files = write(df, str(out), geo=geo, single_file=False, overwrite=False)
    assert len(files) == 1
    assert not os.path.basename(files[0]).startswith(".")
    left = sorted(os.listdir(out))
    # this job's own orphans swept; the foreign writer's file untouched;
    # dot-files stay invisible to readers either way
    assert left == sorted([os.path.basename(files[0]), foreign.name])
    assert spark.read.parquet(str(out)).count() == 1
