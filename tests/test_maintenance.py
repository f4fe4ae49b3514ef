"""File-skipping manifest + pruned reads + compaction
(operators/maintenance.py)."""

import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def points(spark):
    from geoparquet_io_spark.queries import _events_points

    return _events_points(spark, SF_SMOKE)


@pytest.fixture(scope="module")
def partitioned_dataset(points, tmp_path_factory):
    """Quadkey-partitioned write: every file footer carries its OWN bbox."""
    out = str(tmp_path_factory.mktemp("maint") / "qk")
    files = points.partition_by_quadkey(out, partition_resolution=2)
    assert len(files) > 3
    return out, files, points


def test_manifest_covers_every_file(spark, partitioned_dataset):
    from geoparquet_io_spark.operators.maintenance import build_manifest

    path, files, points = partitioned_dataset
    m = build_manifest(spark, path).collect()
    assert sorted(r["file"] for r in m) == sorted(files)
    assert sum(r["n_rows"] for r in m) == points.count()
    for r in m:
        assert r["n_bytes"] == os.path.getsize(r["file"])
        # per-file bbox footers -> every manifest row has a bbox
        assert r["xmin"] is not None and r["xmin"] <= r["xmax"]
        assert r["ymin"] is not None and r["ymin"] <= r["ymax"]


def test_pruned_read_skips_files_and_loses_no_rows(spark, partitioned_dataset):
    from geoparquet_io_spark.operators.maintenance import (build_manifest,
                                                           read_pruned)

    path, files, points = partitioned_dataset
    bbox = (-170.0, 5.0, -10.0, 80.0)   # NW-ish quadrant only
    manifest = build_manifest(spark, path)
    gt, report = read_pruned(spark, path, bbox, manifest=manifest)
    assert report["files_total"] == len(files)
    assert 0 < report["files_skipped"] < len(files)
    assert report["files_scanned"] + report["files_skipped"] == len(files)
    # exactness: pruned + exact filter == full scan + exact filter
    pruned_rows = sorted(
        r["event_id"] for r in gt.extract(bbox=bbox).df.select("event_id").collect())
    import geoparquet_io_spark as gps

    full_rows = sorted(
        r["event_id"]
        for r in gps.read(spark, path).extract(bbox=bbox).df.select("event_id").collect())
    assert pruned_rows == full_rows and len(full_rows) > 0


def test_pruned_read_empty_bbox(spark, partitioned_dataset):
    from geoparquet_io_spark.operators.maintenance import read_pruned

    path, files, _ = partitioned_dataset
    gt, report = read_pruned(spark, path, (500.0, 500.0, 501.0, 501.0))
    assert report["files_skipped"] == len(files)
    assert gt.count() == 0
    assert "event_id" in gt.df.columns   # schema preserved


def test_manifest_null_bbox_files_are_kept(spark, tmp_path):
    """Files without footer bboxes must never be pruned away."""
    from geoparquet_io_spark.operators.maintenance import (build_manifest,
                                                           prune_files)

    df = spark.createDataFrame([(1, "a")], ["id", "v"])
    out = str(tmp_path / "plain")
    df.repartition(2).write.parquet(out)
    m = build_manifest(spark, out)
    kept, skipped = prune_files(m, (0.0, 0.0, 1.0, 1.0))
    assert skipped == [] and len(kept) == len(m.collect())


def test_compact_reduces_file_count_preserves_rows_and_geo(spark, points, tmp_path):
    import pyarrow.parquet as pq

    from geoparquet_io_spark.operators.maintenance import compact
    from geoparquet_io_spark.sources.geoparquet import write

    small = str(tmp_path / "small")
    # force lots of tiny files
    written = write(points.df.repartition(16), small, geo=points.geo)
    assert len(written) == 16
    out = str(tmp_path / "compacted")
    report = compact(spark, small, out, target_file_mb=64.0)
    assert report["files_before"] == 16
    assert report["files_after"] == 1   # tiny dataset -> one 64 MB bin
    import geoparquet_io_spark as gps

    back = gps.read(spark, out)
    assert back.count() == points.count()
    assert back.geometry_column == "geometry"   # footer geo preserved
    f0 = [f for f in os.listdir(out) if f.endswith(".parquet")]
    assert len(f0) == 1
    assert b"geo" in pq.read_schema(os.path.join(out, f0[0])).metadata


def test_manifest_staleness(spark, partitioned_dataset, tmp_path):
    from geoparquet_io_spark.operators.maintenance import (build_manifest,
                                                           manifest_staleness)

    path, files, _ = partitioned_dataset
    m = build_manifest(spark, path)
    rep = manifest_staleness(m, path)
    assert rep["fresh"] and not rep["files_added"]
    # drop one file from the manifest -> reported as added on disk
    m2 = m.filter(m.file != files[0])
    rep2 = manifest_staleness(m2, path)
    assert not rep2["fresh"] and rep2["files_added"] == [files[0]]


def test_manifest_staleness_cli(spark, partitioned_dataset, tmp_path, capsys):
    import json as _json

    from geoparquet_io_spark.cli import main
    from geoparquet_io_spark.operators.maintenance import build_manifest

    path, files, _ = partitioned_dataset
    mf = str(tmp_path / "m")
    build_manifest(spark, path).coalesce(1).write.parquet(mf)
    assert main(["manifest", path, "--check-stale", mf]) == 0
    rep = _json.loads(capsys.readouterr().out)
    assert rep["fresh"] is True


def test_refresh_manifest_sweeps_only_changes(spark, tmp_path):
    import os

    from geoparquet_io_spark.operators.maintenance import (
        build_manifest, manifest_staleness, refresh_manifest)

    p = str(tmp_path / "ds")
    spark.range(0, 100).coalesce(2).write.parquet(p)
    m0 = build_manifest(spark, p).cache()
    assert m0.count() == 2
    # add two files, remove one of the ORIGINALLY-recorded files
    original = sorted(r["file"] for r in m0.select("file").collect())
    spark.range(100, 160).coalesce(2).write.mode("append").parquet(p)
    os.remove(original[0])
    fresh, rep = refresh_manifest(spark, m0, p)
    assert rep["files_swept"] == 2
    assert len(rep["files_removed"]) == 1
    rows = {r["file"]: r["n_rows"] for r in fresh.collect()}
    full = {r["file"]: r["n_rows"]
            for r in build_manifest(spark, p).collect()}
    assert rows == full
    assert manifest_staleness(fresh, p)["fresh"]
    # no-op refresh sweeps nothing
    fresh2, rep2 = refresh_manifest(spark, fresh, p)
    assert rep2["files_swept"] == 0 and rep2["fresh"]
    assert {r["file"] for r in fresh2.collect()} == set(full)


def test_refresh_manifest_cli(spark, tmp_path, capsys):
    import json as _json

    from geoparquet_io_spark.cli import main

    p = str(tmp_path / "ds")
    spark.range(0, 50).coalesce(1).write.parquet(p)
    mpath = str(tmp_path / "manifest")
    assert main(["manifest", p, "--output", mpath]) == 0
    capsys.readouterr()
    spark.range(50, 80).coalesce(1).write.mode("append").parquet(p)
    out2 = str(tmp_path / "manifest2")
    assert main(["manifest", p, "--refresh", mpath,
                 "--output", out2]) == 0
    rep = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["files_swept"] == 1 and rep["files_total"] == 2
    back = spark.read.parquet(out2)
    assert back.agg({"n_rows": "sum"}).collect()[0][0] == 80


def test_compact_with_zorder_clusters_files(spark, tmp_path):
    """OPTIMIZE ZORDER: after a clustered compaction every output file
    covers a narrow band of BOTH listed columns."""
    import random

    import pyarrow.parquet as pq

    from geoparquet_io_spark.operators.maintenance import compact

    rng = random.Random(11)
    rows = [(rng.randrange(100000), rng.randrange(100000))
            for _ in range(20000)]
    src = str(tmp_path / "zc_src")
    spark.createDataFrame(rows, ["a", "b"]).repartition(16) \
        .write.parquet(src)
    import glob

    def mean_spans(path):
        sa = sb = n = 0
        for f in glob.glob(path + "/*.parquet"):
            t = pq.read_table(f, columns=["a", "b"])
            aa, bb = t.column("a").to_pylist(), t.column("b").to_pylist()
            sa += max(aa) - min(aa)
            sb += max(bb) - min(bb)
            n += 1
        return sa / n, sb / n, n

    out = str(tmp_path / "zc_out")
    rep = compact(spark, src, out, target_file_mb=0.008,
                  zorder=["a", "b"])
    assert rep["files_after"] >= 8
    plain = str(tmp_path / "zc_plain")
    compact(spark, src, plain, target_file_mb=0.008)
    za, zb, _ = mean_spans(out)
    pa, pb, _ = mean_spans(plain)
    # plain hash repartition: every file ~full width in both columns;
    # z-order: both columns substantially narrower
    assert pa > 90000 and pb > 90000
    assert za < 0.7 * pa and zb < 0.7 * pb


def test_column_zone_maps_prune_and_keep(spark, tmp_path):
    """build_column_manifest / prune_files_where: numeric + string
    zone maps, conservative keeps for missing stats/columns, and op
    edge semantics (strict vs inclusive bounds)."""
    from geoparquet_io_spark.operators.maintenance import (
        build_column_manifest, prune_files_where, read_pruned_where)

    p = str(tmp_path / "zm")
    spark.createDataFrame(
        [(i, float(i) * 1.5, chr(97 + i // 50)) for i in range(200)],
        "k long, v double, s string"
    ).repartitionByRange(4, "k").write.parquet(p)
    mf = build_column_manifest(spark, p, ["k", "v", "s", "missing"])
    rows = mf.collect()
    files = {r["file"] for r in rows}
    assert len(files) == 4
    # missing column -> null stats -> never prunes
    assert all(r["vmin"] is None for r in rows if r["column"] == "missing")
    kept, skipped = prune_files_where(mf, [("k", ">=", 150)])
    assert len(skipped) >= 2 and kept
    # losslessness: pruned read + exact filter == full read + filter
    df, rep = read_pruned_where(spark, p, [("k", ">=", 150)], manifest=mf)
    assert rep["files_skipped"] == len(skipped)
    assert df.filter("k >= 150").count() == 50
    # strict-bound edge: file covering exactly [x..] survives >= but
    # is pruned by > when its max == x
    per_file_max = {}
    for r in rows:
        if r["column"] == "k":
            per_file_max[r["file"]] = float(r["vmax"])
    fmax = max(per_file_max.values())
    kept2, skip2 = prune_files_where(mf, [("k", ">=", fmax)])
    kept3, skip3 = prune_files_where(mf, [("k", ">", fmax)])
    assert len(kept2) == 1 and len(kept3) == 0
    # string zone maps
    keptS, skipS = prune_files_where(mf, [("s", "=", "a")])
    assert keptS and skipS
    df2, _ = read_pruned_where(spark, p, [("s", "=", "a")])
    assert df2.filter("s = 'a'").count() == 50
    # equality outside every range prunes everything but returns an
    # empty frame with the right schema
    df3, rep3 = read_pruned_where(spark, p, [("k", "=", 10_000)])
    assert rep3["files_scanned"] == 0 and df3.count() == 0
    assert set(df3.columns) == {"k", "v", "s"}


# -- r6 review-fix regressions ----------------------------------------------

def test_column_manifest_decimal_stats_prune_numerically(spark, tmp_path):
    """DECIMAL columns: when the writer produces readable decimal
    statistics (pyarrow-written files) they come back as
    decimal.Decimal and must prune NUMERICALLY ('2.50' < '10'), not
    lexicographically ('2.50' > '10' as strings would wrongly skip the
    file).  Writers whose decimal stats pyarrow CANNOT cast
    (Spark's FIXED_LEN_BYTE_ARRAY form) must degrade to no-stats
    (file kept), never crash the sweep."""
    from decimal import Decimal

    import pyarrow as pa
    import pyarrow.parquet as pq

    from geoparquet_io_spark.operators.maintenance import (
        build_column_manifest, prune_files_where, read_pruned_where)

    p = str(tmp_path / "dec")
    os.makedirs(p)
    pq.write_table(
        pa.table({"id": [1, 2],
                  "d": pa.array([Decimal("2.50"), Decimal("5.00")],
                                type=pa.decimal128(10, 2))}),
        os.path.join(p, "part-0.parquet"))
    mf = build_column_manifest(spark, p, ["d"])
    row = mf.collect()[0]
    if row["numeric"]:                 # pyarrow could read the stats
        kept, skipped = prune_files_where(mf, [("d", "<", 10)])
        assert len(kept) == 1 and skipped == []  # rows 2.50/5.00 match
        df, rep = read_pruned_where(spark, p, [("d", "<", 10)],
                                    manifest=mf)
        assert df.count() == 2
        kept2, skipped2 = prune_files_where(mf, [("d", ">", 100)])
        assert kept2 == [] and len(skipped2) == 1
    else:                              # unreadable stats: conservative
        assert row["vmin"] is None
        kept, skipped = prune_files_where(mf, [("d", ">", 100)])
        assert len(kept) == 1 and skipped == []

    # a SPARK-written decimal (stats pyarrow can't cast on this
    # version) must not crash the sweep and must keep the file
    p2 = str(tmp_path / "dec_spark")
    spark.createDataFrame([(1, "2.50")], ["id", "d"]) \
        .withColumn("d", F.col("d").cast("decimal(10,2)")) \
        .coalesce(1).write.parquet(p2)
    mf2 = build_column_manifest(spark, p2, ["d"])
    kept3, skipped3 = prune_files_where(mf2, [("d", ">", 100)])
    assert len(kept3) == 1 and skipped3 == []


def test_prune_files_where_rejects_unknown_op(spark, tmp_path):
    from geoparquet_io_spark.operators.maintenance import (
        build_column_manifest, prune_files_where)

    p = str(tmp_path / "ops")
    spark.range(5).coalesce(1).write.parquet(p)
    mf = build_column_manifest(spark, p, ["id"])
    with pytest.raises(ValueError, match="unsupported predicate op"):
        prune_files_where(mf, [("id", "==", 3)])
    with pytest.raises(ValueError, match="unsupported predicate op"):
        prune_files_where(mf, [("id", "!=", 3)])


def test_prune_files_where_non_numeric_value_keeps_file(spark, tmp_path):
    """A non-numeric predicate value against a numeric stats column
    cannot be compared — the file must be conservatively KEPT (pruning
    must never lose rows), not crash the whole prune call (r8 review)."""
    from geoparquet_io_spark.operators.maintenance import (
        build_column_manifest, prune_files_where)

    p = str(tmp_path / "nn")
    spark.range(5).coalesce(1).write.parquet(p)
    mf = build_column_manifest(spark, p, ["id"])
    kept, skipped = prune_files_where(mf, [("id", "=", "alice")])
    assert len(kept) == 1 and skipped == []


def test_manifest_3d_bbox_reads_xy_planar(spark, tmp_path):
    """A 6-element GeoParquet bbox ([xmin,ymin,zmin,xmax,ymax,zmax])
    must map to the planar manifest columns positionally-correctly —
    reading it as 4-element recorded zmin as xmax and pruned files that
    DO intersect the query."""
    import json
    import math

    import pyarrow.parquet as pq

    from geoparquet_io_spark.operators.maintenance import (
        build_manifest, prune_files)
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
    mf = build_manifest(spark, p)
    row = [r for r in mf.collect() if r["file"] == f][0]
    assert row["xmax"] == x1 and row["ymax"] == y1  # not zmin/ymax-shift
    kept, skipped = prune_files(mf, (x0, y0, x1, y1))
    assert f in kept
    # footer JSON may hold integers: they reach the DoubleType columns
    # as the same values
    ints = [math.floor(x0), math.floor(y0), math.ceil(x1), math.ceil(y1)]
    col["bbox"] = ints
    patch_footer_metadata(f, {"geo": json.dumps(meta)})
    mf = build_manifest(spark, p)
    row = [r for r in mf.collect() if r["file"] == f][0]
    got = [row[k] for k in ("xmin", "ymin", "xmax", "ymax")]
    assert got == [float(v) for v in ints]
    assert all(isinstance(v, float) for v in got)
    kept, skipped = prune_files(mf, (x0, y0, x1, y1))
    assert f in kept


def test_manifest_staleness_same_size_rewrite_detected(spark, tmp_path):
    """A same-size in-place rewrite changes mtime but not size — the
    staleness audit must flag it (size-only said 'fresh' over a stale
    bbox)."""
    from geoparquet_io_spark.operators.maintenance import (
        build_manifest, manifest_staleness)

    p = str(tmp_path / "mt")
    spark.range(100).coalesce(1).write.parquet(p)
    mf = build_manifest(spark, p).localCheckpoint()
    f = [os.path.join(p, x) for x in os.listdir(p)
         if x.endswith(".parquet")][0]
    assert manifest_staleness(mf, p)["fresh"]
    # same bytes, new mtime — simulates an in-place rewrite tool
    data = open(f, "rb").read()
    with open(f, "wb") as fh:
        fh.write(data)
    os.utime(f, ns=(os.stat(f).st_atime_ns,
                    os.stat(f).st_mtime_ns + 10_000_000_000))
    rep = manifest_staleness(mf, p)
    assert not rep["fresh"] and f in rep["files_resized"]


def test_changes_between_detects_null_position_moves(spark, tmp_path):
    """(x, NULL) -> (NULL, x): xxhash64 skips NULL inputs so both hashed
    identically and the update vanished from the CDF; the null-safe row
    hash must emit it as update_postimage."""
    from geoparquet_io_spark.operators.maintenance import (
        changes_between, commit_snapshot)

    p = str(tmp_path / "cdf")
    spark.createDataFrame([(1, "x", None), (2, "k", "v")],
                          "id long, a string, b string") \
        .coalesce(1).write.mode("append").parquet(p)
    commit_snapshot(spark, p, note="v1")
    v1_files = {os.path.join(p, f) for f in os.listdir(p)
                if f.endswith(".parquet")}
    spark.createDataFrame([(1, None, "x"), (2, "k", "v")],
                          "id long, a string, b string") \
        .coalesce(1).write.mode("append").parquet(p)
    v2_files = sorted({os.path.join(p, f) for f in os.listdir(p)
                       if f.endswith(".parquet")} - v1_files)
    commit_snapshot(spark, p, files=v2_files, note="v2-replace")
    ch = {r["id"]: r["_change"]
          for r in changes_between(spark, p, "id", 1, 2).collect()}
    assert ch == {1: "update_postimage"}      # row 2 unchanged, omitted


def test_scd2_null_valid_from_current_row_survives(spark):
    """A current dimension row with NULL valid_from ('since forever')
    must survive a batch that doesn't touch its key, and be closed (not
    lost) when its key changes — presence is a join flag, not a data
    column."""
    from geoparquet_io_spark.operators.merge import scd2_apply

    dim = spark.createDataFrame(
        [(1, "a", None, None), (2, "b", "2020", None)],
        "k long, attr string, valid_from string, valid_to string")
    # batch 1: no change for k=1
    ch1 = spark.createDataFrame([(2, "b2", "2021")],
                                "k long, attr string, effective_ts string")
    out1 = scd2_apply(dim, ch1, "k", ["attr"]).collect()
    rows1 = {(r["k"], r["attr"], r["valid_from"], r["valid_to"])
             for r in out1}
    assert (1, "a", None, None) in rows1          # survived untouched
    assert (2, "b", "2020", "2021") in rows1      # closed
    assert (2, "b2", "2021", None) in rows1       # opened
    # batch 2: k=1 changes — old row must CLOSE, not vanish
    ch2 = spark.createDataFrame([(1, "a2", "2022")],
                                "k long, attr string, effective_ts string")
    out2 = scd2_apply(dim, ch2, "k", ["attr"]).collect()
    rows2 = {(r["k"], r["attr"], r["valid_from"], r["valid_to"])
             for r in out2}
    assert (1, "a", None, "2022") in rows2
    assert (1, "a2", "2022", None) in rows2


def test_merge_upsert_op_validation_and_null_op(spark):
    """Missing op column raises up front; a NULL-op change for an
    absent key upserts its payload instead of emitting a phantom
    all-NULL row."""
    from geoparquet_io_spark.operators.merge import merge_upsert

    base = spark.createDataFrame([(1, "a")], "k long, v string")
    no_op = spark.createDataFrame([(2, "b")], "k long, v string")
    with pytest.raises(ValueError, match="op column"):
        merge_upsert(base, no_op, "k")
    ch = spark.createDataFrame([(2, "b", None)],
                               "k long, v string, op string")
    out = {r["k"]: r["v"] for r in merge_upsert(base, ch, "k").collect()}
    assert out == {1: "a", 2: "b"}            # payload, not NULL phantom
