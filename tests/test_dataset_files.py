"""One membership rule for a dataset's files
(``sources/geoparquet.py:dataset_files``): every footer reader, inspect
and check function, maintenance operator and ``validate`` lists the
files Spark's reader reads, so metadata directories such as
``_deletes/`` and ``_snapshots/`` never leak into a footer answer."""

import os
import pathlib
import re

from geoparquet_io_spark.sources.geoparquet import dataset_files, is_hidden
from tests.conftest import SF_SMOKE


def test_hidden_rule_matches_spark_file_index(tmp_path):
    assert [n for n in ("_deletes", "_snapshots", "_SUCCESS", ".x.parquet",
                        "_c=1", "c=_x", "part-0.parquet") if is_hidden(n)] \
        == ["_deletes", "_snapshots", "_SUCCESS", ".x.parquet"]
    for rel in ("a.parquet", "_c=1/b.parquet", "c=2/d=3/c.parquet",
                "_deletes/d-1/part-0.parquet", "_tmp/x.parquet",
                ".hidden/y.parquet", "c=2/.inprogress-z.parquet",
                "c=2/_z.parquet", "notes.txt"):
        f = tmp_path / rel
        f.parent.mkdir(parents=True, exist_ok=True)
        f.write_bytes(b"")
    got = [os.path.relpath(f, tmp_path) for f in dataset_files(str(tmp_path))]
    assert got == ["_c=1/b.parquet", "a.parquet", "c=2/d=3/c.parquet"]
    one = str(tmp_path / "a.parquet")
    assert dataset_files(one) == [one]
    assert dataset_files(str(tmp_path / "missing")) == []


def test_delete_files_do_not_join_the_dataset(spark, tmp_path):
    """A merge-on-read delete writes ``_deletes/d-*/part-*.parquet``,
    which sorts before every data file and which Spark's reader skips.
    Every footer answer must skip it too."""
    import geoparquet_io_spark as gps
    from geoparquet_io_spark.operators.inspect_check import (
        bounds_from_metadata, check_structure, inspect_summary, validate)
    from geoparquet_io_spark.operators.maintenance import (
        commit_snapshot, delete_where)
    from geoparquet_io_spark.queries import _events_points

    p = str(tmp_path / "ds")
    _events_points(spark, SF_SMOKE).write(p, per_file_bbox="bbox")
    geo = gps.read(spark, p).geo
    assert geo.primary.covering and geo.primary.bbox
    commit_snapshot(spark, p)
    delete_where(spark, p, "event_id % 2 = 0", "event_id")
    assert dataset_files(os.path.join(p, "_deletes"))   # the trap is set

    assert gps.read(spark, p).geo is not None
    assert inspect_summary(p)["rows"] == spark.read.parquet(p).count()
    assert check_structure(p).has_geo_metadata
    errs = validate(spark, p)
    assert not any("missing 'geo'" in e or "non-.parquet" in e
                   for e in errs), errs
    assert bounds_from_metadata(spark, p) is not None


def test_dataset_listing_has_one_home():
    """No library module globs a dataset root for its parquet files:
    they call ``dataset_files`` (sources/geoparquet.py), which applies
    the hidden-path rule.  A glob under a named metadata directory, like
    vacuum's ``_deletes/`` sweep, lists no root and is not matched."""
    import geoparquet_io_spark

    root = pathlib.Path(geoparquet_io_spark.__file__).parent
    root_glob = re.compile(
        r"""join\(\s*\w+\s*,\s*["']\*\*["']\s*,\s*["']\*\.parquet["']"""
        r"""|["']\*\*/\*\.parquet["']|rglob\(\s*["']\*\.parquet["']""")
    users = sorted(p.relative_to(root).as_posix()
                   for p in root.rglob("*.py")
                   if root_glob.search(p.read_text(encoding="utf-8")))
    assert users == []
