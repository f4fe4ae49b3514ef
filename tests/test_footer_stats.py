"""Footer stats describe the rows written: every file's ``geo`` footer
carries the types and bbox of its own rows, whatever the input footer
said, and a dataset reader unions them."""

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_ORACLE, SF_SMOKE


def _footer(f: str) -> dict:
    g = json.loads(pq.read_schema(f).metadata[b"geo"])
    return g["columns"][g["primary_column"]]


def _covering_bounds(files: list[str], column: str = "bbox") -> list[float]:
    t = pa.concat_tables([pq.read_table(f, columns=[column]) for f in files])
    col = t.column(column).combine_chunks()
    return [min(col.field("xmin").to_pylist()), min(col.field("ymin").to_pylist()),
            max(col.field("xmax").to_pylist()), max(col.field("ymax").to_pylist())]


@pytest.fixture(scope="module")
def stale_bbox_file(tmp_path_factory):
    """1,000 points without a covering column whose footer declares
    their full extent and ``["Point"]``."""
    from geoparquet_io_spark.functions import wkb as W

    rng = np.random.default_rng(3)
    xy = rng.uniform([-100.0, -50.0], [100.0, 50.0], size=(1000, 2))
    geo = {"version": "1.1.0", "primary_column": "geometry",
           "columns": {"geometry": {
               "encoding": "WKB", "geometry_types": ["Point"],
               "bbox": [float(xy[:, 0].min()), float(xy[:, 1].min()),
                        float(xy[:, 0].max()), float(xy[:, 1].max())]}}}
    tbl = pa.table({"id": pa.array(np.arange(1000)),
                    "geometry": pa.array([W.encode_point(x, y) for x, y in xy],
                                         pa.binary())})
    f = str(tmp_path_factory.mktemp("stale") / "pts.parquet")
    pq.write_table(tbl.replace_schema_metadata({b"geo": json.dumps(geo).encode()}), f)
    return f


@pytest.mark.parametrize("single_file", [True, False])
def test_extract_then_add_bbox_writes_the_bounds_of_the_rows_written(
        spark, tmp_path, stale_bbox_file, single_file):
    """A filtering extract over a file whose footer already has a bbox:
    the written footer bounds the rows kept, not the input."""
    from geoparquet_io_spark.sources.geoparquet import read

    src = read(spark, stale_bbox_file)
    gt = src.extract(bbox=(0.0, 0.0, 100.0, 50.0)).add_bbox()
    out = str(tmp_path / ("o.parquet" if single_file else "o"))
    files = gt.write(out, single_file=single_file)
    for f in files:
        assert _footer(f)["bbox"] == _covering_bounds([f]), f
        assert _footer(f)["bbox"] != src.geo.primary.bbox
        assert _footer(f)["geometry_types"] == ["Point"]


def test_hilbert_files_carry_their_own_bbox_and_prune(spark, tmp_path):
    """A hilbert-sorted directory write rolled into 4 files: each footer
    bbox is that file's covering min/max, so a small query box prunes."""
    from geoparquet_io_spark.operators.maintenance import build_manifest, prune_files
    from geoparquet_io_spark.queries import _events_points

    gt = _events_points(spark, SF_ORACLE).sort_hilbert()
    out = str(tmp_path / "h")
    files = gt.write(out, max_rows_per_file=2500)
    assert len(files) >= 4
    for f in files:
        assert _footer(f)["bbox"] == _covering_bounds([f]), f
    kept, skipped = prune_files(build_manifest(spark, out), (0, 0, 10, 10))
    assert len(kept) < len(files) and len(kept) + len(skipped) == len(files)


@pytest.mark.parametrize("row_group_rows,groups", [
    (None, [100_000]), (30_000, [30_000, 30_000, 30_000, 10_000])])
def test_directory_write_without_covering_follows_row_group_rows(
        spark, tmp_path, row_group_rows, groups):
    from geoparquet_io_spark.functions import wkb as W
    from geoparquet_io_spark.meta import GeoColumnMeta, GeoMeta
    from geoparquet_io_spark.sources.geoparquet import write

    pt = W.encode_point(1.0, 2.0)
    df = spark.range(100_000).withColumn("geometry", F.lit(pt)).coalesce(1)
    geo = GeoMeta(columns={"geometry": GeoColumnMeta()})
    kw = {} if row_group_rows is None else {"row_group_rows": row_group_rows}
    files = write(df, str(tmp_path / "rg"), geo, **kw)
    md = pq.read_metadata(files[0])
    assert [md.row_group(i).num_rows for i in range(md.num_row_groups)] == groups
    assert _footer(files[0])["geometry_types"] == ["Point"]


def test_footer_geo_unions_geometry_types(tmp_path):
    from geoparquet_io_spark.functions import wkb as W
    from geoparquet_io_spark.sources.geoparquet import read_footer_geo

    files = []
    for name, types, wkb in [
            ("a", ["Polygon"], W.encode_box_polygon(0, 0, 1, 1)),
            ("b", ["Point", "LineString"], W.encode_point(5, 5))]:
        geo = {"version": "1.1.0", "primary_column": "geometry",
               "columns": {"geometry": {"encoding": "WKB", "geometry_types": types}}}
        tbl = pa.table({"geometry": pa.array([wkb], pa.binary())})
        files.append(str(tmp_path / f"{name}.parquet"))
        pq.write_table(tbl.replace_schema_metadata(
            {b"geo": json.dumps(geo).encode()}), files[-1])
    geo = read_footer_geo(str(tmp_path))
    assert geo.primary.geometry_types == ["LineString", "Point", "Polygon"]


def _jobs(spark, group: str, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_geotable_write_starts_no_job_of_its_own(spark, tmp_path):
    """The 3-op pipeline's write: GeoTable.write starts exactly the jobs
    of the plain source write of the same frame (no stats aggregate)."""
    from geoparquet_io_spark.queries import _events_points
    from geoparquet_io_spark.sources.geoparquet import write

    gt = _events_points(spark, SF_SMOKE).extract(
        bbox=(-150, -75, 150, 75)).sort_hilbert()
    # the first evaluation also materializes the sort's shuffle; compare
    # two later ones
    write(gt.df, str(tmp_path / "w.parquet"), gt.geo)
    plain = _jobs(spark, "footer_plain",
                  lambda: write(gt.df, str(tmp_path / "p.parquet"), gt.geo))
    own = _jobs(spark, "footer_gt", lambda: gt.write(str(tmp_path / "g.parquet")))
    assert plain > 0 and own == plain
    assert _footer(str(tmp_path / "g.parquet"))["bbox"] == \
        _covering_bounds([str(tmp_path / "g.parquet")])


def test_failed_overwrite_keeps_the_old_dataset(spark, tmp_path):
    from geoparquet_io_spark.sources.geoparquet import write

    out = str(tmp_path / "d")
    old = write(spark.range(10).coalesce(1), out)
    assert len(old) == 1
    bad = spark.range(10).withColumn(
        "boom", F.when(F.col("id") >= 0, F.raise_error(F.lit("no"))))
    with pytest.raises(Exception):
        write(bad, out)
    assert pq.read_table(old[0]).num_rows == 10
    assert [f for f in os.listdir(out) if f.startswith(".")] == []
    assert spark.read.parquet(out).count() == 10


def test_overwrite_replaces_partitions_and_empty_overwrite_empties(spark, tmp_path):
    from geoparquet_io_spark.sources.geoparquet import dataset_files, write

    out = str(tmp_path / "d")
    write(spark.range(6).withColumn("k", F.col("id") % 3), out, partition_by=["k"])
    write(spark.range(4).withColumn("k", F.col("id") % 2 + 5), out, partition_by=["k"])
    assert sorted(os.listdir(out)) == ["k=5", "k=6"]
    assert spark.read.parquet(out).count() == 4
    files = write(spark.range(4).filter("id < 0").withColumn("k", F.col("id")),
                  out, partition_by=["k"])
    assert dataset_files(out) == files
    assert spark.read.parquet(out).count() == 0


def test_update_metadata_false_stamps_geo_as_given(spark, tmp_path):
    from geoparquet_io_spark.queries import _events_points

    gt = _events_points(spark, SF_SMOKE)
    gt.geo.primary.bbox = [0.0, 0.0, 1.0, 1.0]
    f = str(tmp_path / "g.parquet")
    gt.write(f, update_metadata=False)
    assert _footer(f)["bbox"] == [0.0, 0.0, 1.0, 1.0]
    with pytest.raises(ValueError, match="update_metadata"):
        gt.write(str(tmp_path / "x"), update_metadata=False, per_file_bbox="bbox")


def test_z_geometry_leaves_types_empty_and_keeps_bbox(spark, tmp_path):
    import struct

    from geoparquet_io_spark.geotable import GeoTable
    from geoparquet_io_spark.meta import GeoColumnMeta, GeoMeta

    z = struct.pack("<BI3d", 1, 1001, 1.0, 2.0, 3.0)
    df = spark.createDataFrame(
        [(bytearray(z), (1.0, 2.0, 1.0, 2.0))],
        "geometry binary, bbox struct<xmin:double,ymin:double,"
        "xmax:double,ymax:double>")
    geo = GeoMeta(columns={"geometry": GeoColumnMeta(geometry_types=["Point"])})
    geo.set_covering("bbox")
    for out in (str(tmp_path / "z.parquet"), str(tmp_path / "zd")):
        with pytest.warns(UserWarning, match="geometry_types left empty"):
            files = GeoTable(df, geo).write(out)
        assert _footer(files[0])["geometry_types"] == []
        assert _footer(files[0])["bbox"] == [1.0, 2.0, 1.0, 2.0]


def test_prune_files_starts_no_job(spark, tmp_path):
    from geoparquet_io_spark.operators.maintenance import (
        build_column_manifest, build_manifest, prune_files, prune_files_where)
    from geoparquet_io_spark.queries import _events_points
    from geoparquet_io_spark.sources.geoparquet import dataset_files

    out = str(tmp_path / "p")
    _events_points(spark, SF_SMOKE).write(out, partition_by=["event_type"])
    man = build_manifest(spark, out)
    kept, skipped = [], []
    assert _jobs(spark, "prune", lambda: kept.extend(
        prune_files(man, (-180, -90, 180, 90))[0])) == 0
    assert kept == dataset_files(out)
    zm = build_column_manifest(spark, out, ["event_id"])
    assert _jobs(spark, "prune_where", lambda: skipped.extend(
        prune_files_where(zm, [("event_id", "<", -1)])[1])) == 0
    assert len(skipped) == len(kept)
