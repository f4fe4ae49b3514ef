"""``validate``'s data-vs-metadata checks run on the driver: one pyarrow
pass over the first ``sample_rows`` non-null geometries (files in sorted
order, batches in order) parses each value once and yields the marker
check, the base type set and the sample envelope.  That pass must equal
``st_geometrytype`` distinct plus ``st_envelope_struct`` min/max run
through Spark over the same rows, and ``validate`` must start no job."""

import json
import math
import struct

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from geoparquet_io_spark.functions import geom as G
from geoparquet_io_spark.functions import wkb as W
from geoparquet_io_spark.functions import wkt as T
from geoparquet_io_spark.operators.inspect_check import (
    _check_wkb_sample, validate)

EMPTY_POINT = W.encode_point(math.nan, math.nan)


def _write(path, values, bbox=None, crs=None, types=("Point",), covering=False,
           orientation=None):
    """One GeoParquet file with WKB ``values`` (None = NULL geometry);
    the footer declares ``bbox`` / ``crs`` / ``orientation`` when given.
    ``covering`` adds a bbox struct column (from the values) registered as
    the covering."""
    col = {"encoding": "WKB", "geometry_types": list(types)}
    if bbox is not None:
        col["bbox"] = list(bbox)
    if crs is not None:
        col["crs"] = crs
    if orientation is not None:
        col["orientation"] = orientation
    cols = {"id": pa.array(range(len(values)), pa.int64()),
            "geometry": pa.array(values, pa.binary())}
    if covering:
        envs = [None if v is None else dict(zip(
            ("xmin", "ymin", "xmax", "ymax"), W.envelope(v))) for v in values]
        cols["bbox"] = pa.array(envs, pa.struct(
            [(k, pa.float64()) for k in ("xmin", "ymin", "xmax", "ymax")]))
        col["covering"] = {"bbox": {k: ["bbox", k] for k in
                                    ("xmin", "ymin", "xmax", "ymax")}}
    geo = {"version": "1.1.0", "primary_column": "geometry",
           "columns": {"geometry": col}}
    tbl = pa.table(cols).replace_schema_metadata(
        {b"geo": json.dumps(geo).encode()})
    pq.write_table(tbl, str(path))
    return str(path)


def _driver(files, sample_rows=10_000):
    files = sorted(files)
    footers = [pq.read_metadata(f) for f in files]
    return _check_wkb_sample(files, footers, "geometry", sample_rows)


def _spark(spark, values):
    """st_geometrytype distinct + st_envelope_struct min/max over
    ``values``, the aggregates ``validate`` ran through Spark before."""
    df = spark.createDataFrame(
        [(None if v is None else bytearray(v),) for v in values], "g binary")
    types = {r["t"] for r in df.select(
        G.st_geometrytype(F.col("g")).alias("t")).distinct().collect()}
    e = df.select(G.st_envelope_struct(F.col("g")).alias("e")).agg(
        F.min("e.xmin"), F.min("e.ymin"), F.max("e.xmax"), F.max("e.ymax"),
    ).collect()[0]
    return types - {None}, None if e[0] is None else tuple(e)


def _square(x, y, s=1.0):
    return [np.array([[x, y], [x + s, y], [x + s, y + s], [x, y + s], [x, y]])]


MIXED = [
    W.encode_point(1.0, 2.0),
    W.encode_linestring(np.array([[-5.0, 0.5], [3.0, 7.5]])),
    W.encode_multipolygon([_square(10.0, -20.0), _square(-30.0, 40.0, 2.0)]),
    # EWKB point with an SRID (2-D), big-endian linestring
    struct.pack("<BIIdd", 1, 0x20000001, 4326, 60.0, -45.0),
    struct.pack(">BII4d", 0, 2, 2, 0.0, 0.0, 1.0, 1.0),
    None,
    EMPTY_POINT,
    T.from_wkt("GEOMETRYCOLLECTION EMPTY"),
]
POINTS = [W.encode_point(float(i), float(-i)) for i in range(50)] + [
    None, EMPTY_POINT,
    # one NaN coordinate: no bounds, in the bulk-point path as in the kernel
    W.encode_point(-170.0, math.nan),
]
ALL_EMPTY = [EMPTY_POINT, None, EMPTY_POINT]


@pytest.mark.parametrize("values, types, env", [
    (MIXED, {"POINT", "LINESTRING", "MULTIPOLYGON", "GEOMETRYCOLLECTION"},
     (-30.0, -45.0, 60.0, 42.0)),
    (POINTS, {"POINT"}, (0.0, -49.0, 49.0, 0.0)),
    (ALL_EMPTY, {"POINT"}, None),
], ids=["mixed", "points", "all_empty"])
def test_sample_pass_equals_spark_udfs(spark, tmp_path, values, types, env):
    f = _write(tmp_path / "s.parquet", values)
    assert _driver([f]) == ([], types, env)
    assert _spark(spark, values) == (types, env)


def test_sample_definition_spans_batches_and_files(spark, tmp_path):
    """Three files, one past a single 8,192-row batch: the sample is the
    first 10,000 non-null values in file order, so row 8,500 of the first
    file is in it and the tail of the last file is not."""
    a = [W.encode_point(float(i % 90), float(i % 45)) for i in range(9000)]
    a[17] = None
    a[8500] = W.encode_point(-120.0, -60.0)
    b = [W.encode_linestring(np.array([[0.0, 0.0], [5.0, 5.0]]))] * 500
    c = [W.encode_polygon(_square(1.0, 1.0))] * 501 + \
        [W.encode_multipolygon([_square(100.0, 50.0)])] * 100
    files = [_write(tmp_path / "c.parquet", c), _write(tmp_path / "a.parquet", a),
             _write(tmp_path / "b.parquet", b)]
    errs, types, env = _driver(files)
    assert errs == []
    assert types == {"POINT", "LINESTRING", "POLYGON"}
    assert env == (-120.0, -60.0, 89.0, 44.0)
    sample = pa.concat_arrays(
        [pq.read_table(f)["geometry"].combine_chunks() for f in sorted(files)]
    ).drop_null().to_pylist()[:10_000]
    assert (types, env) == _spark(spark, sample)


def test_z_values_are_rejected_by_both(spark, tmp_path):
    """EWKB Z and ISO Z pass the marker check but no 2-D parse: the
    driver pass reports what the Spark UDF raises."""
    for i, z in enumerate([struct.pack("<BI3d", 1, 0x80000001, 1.0, 2.0, 3.0),
                           struct.pack("<BI3d", 1, 1001, 1.0, 2.0, 3.0)]):
        values = [W.encode_point(0.0, 0.0), z]
        f = _write(tmp_path / f"z{i}.parquet", values)
        assert _driver([f]) == (
            ["column geometry: unparseable WKB (only 2-D WKB supported)"],
            {"POINT"}, None)
        with pytest.raises(Exception, match="only 2-D WKB supported"):
            _spark(spark, values)


def test_validate_reports_truncated_wkb(spark, tmp_path):
    """A Polygon header promising 4 points, followed by 2: reported, not
    raised, and no later check runs."""
    truncated = struct.pack("<BIII", 1, 3, 1, 4) + struct.pack("<4d", 0, 0, 1, 0)
    f = _write(tmp_path / "t.parquet",
               [W.encode_polygon(_square(0.0, 0.0)), truncated],
               bbox=[5.0, 5.0, 6.0, 6.0], types=["Point"])
    assert validate(spark, f) == [
        "column geometry: unparseable WKB (buffer is smaller than requested size)"]


def test_validate_reports_truncated_wkb_past_the_sample(spark, tmp_path):
    """The orientation pass reads past the sample: a truncated polygon in
    the second file is reported with the sample pass's message, not
    raised."""
    truncated = struct.pack("<BIII", 1, 3, 1, 4) + struct.pack("<4d", 0, 0, 1, 0)
    d = tmp_path / "ds"
    d.mkdir()
    good = [W.encode_polygon(_square(float(k), 0.0)) for k in range(6)]
    _write(d / "a.parquet", good, types=["Polygon"], orientation="counterclockwise")
    _write(d / "b.parquet", [good[0], truncated], types=["Polygon"],
           orientation="counterclockwise")
    assert validate(spark, str(d), sample_rows=5) == [
        "column geometry: unparseable WKB (buffer is smaller than requested size)"]


def test_validate_catches_bbox_not_containing_data(spark, tmp_path):
    """No covering column, so the per-file row-group check cannot fire:
    the sample's envelope against the footer bbox must."""
    f = _write(tmp_path / "b.parquet",
               [W.encode_point(0.0, 0.0), W.encode_point(10.0, 10.0)],
               bbox=[1.0, 1.0, 9.0, 9.0])
    assert validate(spark, f) == ["metadata bbox does not contain the data extent"]


def test_validate_catches_bbox_not_containing_data_multi_file(spark, tmp_path):
    """The dataset bbox is the union of the footers; one file's data
    past its own footer is outside the union too."""
    d = tmp_path / "ds"
    d.mkdir()
    _write(d / "a.parquet", [W.encode_point(0.0, 0.0), W.encode_point(1.0, 1.0)],
           bbox=[0.0, 0.0, 1.0, 1.0])
    _write(d / "b.parquet", [W.encode_point(2.0, 2.0), W.encode_point(10.0, 10.0)],
           bbox=[2.0, 2.0, 3.0, 3.0])
    assert validate(spark, str(d)) == [
        "metadata bbox does not contain the data extent"]


def test_validate_starts_no_spark_job(spark, tmp_path):
    """A multi-file dataset with a footer bbox, a covering column and an
    EPSG:4326 CRS runs every check, the envelope ones included, on the
    driver: the job group sees no job."""
    d = tmp_path / "ds"
    d.mkdir()
    for i in range(3):
        polys = [W.encode_polygon(_square(10.0 * i + k, k)) for k in range(5)]
        _write(d / f"part-{i}.parquet", polys, bbox=[10.0 * i, 0.0, 10.0 * i + 5, 5.0],
               crs="EPSG:4326", types=["Polygon"], covering=True)
    sc = spark.sparkContext
    group = "validate-no-jobs"
    sc.setJobGroup(group, "validate")
    try:
        errs = validate(spark, str(d))
    finally:
        sc.setJobGroup(None, None)
    assert errs == []
    assert sc.statusTracker().getJobIdsForGroup(group) == []
