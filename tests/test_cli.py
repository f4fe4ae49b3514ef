"""CLI surface: each command drives the engine end-to-end."""

import json

import pytest

from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def src(spark, tmp_path_factory):
    from geoparquet_io_spark.queries import _events_points

    p = str(tmp_path_factory.mktemp("cli") / "src.parquet")
    _events_points(spark, SF_SMOKE).write(p)
    return p


def _run(argv):
    from geoparquet_io_spark.cli import main

    return main(argv)


def test_extract(src, tmp_path, capsys):
    out = str(tmp_path / "ex.parquet")
    assert _run(["extract", src, out, "--bbox=-60,-40,40,60",
                 "--columns", "event_id"]) == 0
    import pyarrow.parquet as pq

    t = pq.read_table(out)
    assert set(t.column_names) == {"event_id", "geometry", "bbox"}
    assert 0 < t.num_rows < 1000


def test_add_and_sort_and_check(src, tmp_path, capsys):
    mid = str(tmp_path / "qk.parquet")
    assert _run(["add", "quadkey", src, mid, "--zoom", "6"]) == 0
    out = str(tmp_path / "sorted.parquet")
    assert _run(["sort", "hilbert", mid, out]) == 0
    assert _run(["check", "all", out]) == 0
    rep = json.loads(capsys.readouterr().out)
    assert rep["issues"] == [] and rep["spec_errors"] == []


def test_partition_cli(src, tmp_path, capsys):
    out = str(tmp_path / "parts")
    assert _run(["partition", "string", src, out, "--column", "event_type"]) == 0
    assert json.loads(capsys.readouterr().out)["files"] >= 3


def test_inspect_summary(src, capsys, tmp_path):
    assert _run(["inspect", "summary", src]) == 0
    s = json.loads(capsys.readouterr().out)
    assert s["rows"] == 1000 and s["geo"]["primary_column"] == "geometry"
    # an empty directory is a missing dataset for every footer verb
    for what in ("summary", "meta"):
        with pytest.raises(FileNotFoundError):
            _run(["inspect", what, str(tmp_path)])


def test_convert_csv(tmp_path, capsys):
    csv = tmp_path / "in.csv"
    csv.write_text("id,wkt\n1,POINT (1 2)\n2,POINT (3 4)\n3,POINT (5 6)\n")
    out = str(tmp_path / "conv.parquet")
    assert _run(["convert", str(csv), out]) == 0
    import pyarrow.parquet as pq

    assert pq.read_metadata(out).num_rows == 3
    assert b"geo" in pq.read_schema(out).metadata


def test_inspect_head_tail(src, capsys):
    assert _run(["inspect", "head", src, "-n", "3"]) == 0
    out_head = capsys.readouterr().out
    assert "POINT" in out_head
    assert _run(["inspect", "tail", src, "-n", "3"]) == 0
    out_tail = capsys.readouterr().out
    assert "POINT" in out_tail and out_tail != out_head


def test_reproject_cli(src, tmp_path):
    out = str(tmp_path / "merc.parquet")
    assert _run(["reproject", src, out, "--to-crs", "EPSG:3857"]) == 0
    import pyarrow.parquet as pq
    import json as _json

    geo = _json.loads(pq.read_schema(out).metadata[b"geo"])
    assert geo["columns"]["geometry"]["crs"] == "EPSG:3857"


def test_admin_cli_and_publish_stac(src, tmp_path, spark, capsys):
    # build an admin file
    from geoparquet_io_spark.functions import geom as G
    from geoparquet_io_spark.geotable import GeoTable
    from geoparquet_io_spark.meta import GeoColumnMeta, GeoMeta
    from geoparquet_io_spark.testsupport.tables import load_table, nation_boxes
    from pyspark.sql import functions as F

    n = nation_boxes(load_table(spark, SF_SMOKE, "nation"))
    n = n.withColumn("geometry", G.st_box("xmin", "ymin", "xmax", "ymax"))
    n = n.withColumn("bbox", G.bbox_struct(
        F.col("xmin"), F.col("ymin"), F.col("xmax"), F.col("ymax"))) \
        .select("n_name", "geometry", "bbox")
    admin_path = str(tmp_path / "admin.parquet")
    GeoTable(n, GeoMeta(columns={"geometry": GeoColumnMeta()})).write(admin_path)

    out = str(tmp_path / "enriched.parquet")
    assert _run(["add-admin-divisions", src, out, "--admin", admin_path,
                 "--levels", "n_name"]) == 0
    import pyarrow.parquet as pq

    assert "admin:n_name" in pq.read_schema(out).names

    stac_out = str(tmp_path / "item.json")
    assert _run(["publish-stac", out, stac_out]) == 0
    got = json.loads(capsys.readouterr().out)
    assert "bbox" in got


def test_cli_validate_sample_asof(spark, tmp_path):
    from geoparquet_io_spark.cli import main
    from geoparquet_io_spark.queries import _events_points

    from pyspark.sql import functions as F

    gt = _events_points(spark, SF_SMOKE)
    src = str(tmp_path / "in.parquet")
    gt.write(src)

    assert main(["validate", src]) == 0

    out = str(tmp_path / "sampled")
    assert main(["sample", src, out, "--key", "event_id",
                 "--fraction", "0.3"]) == 0
    n = spark.read.parquet(out).count()
    assert 0 < n < gt.count()

    out2 = str(tmp_path / "split")
    assert main(["sample", src, out2, "--key", "event_id",
                 "--splits", "train=0.8,valid=0.2"]) == 0
    back = spark.read.parquet(out2)
    assert set(r["split"] for r in back.select("split").distinct().collect()) \
        == {"train", "valid"}

    right = str(tmp_path / "right.parquet")
    markers = gt.df.filter("event_id % 5 = 0") \
        .groupBy("user_id", "ts").agg(F.max("event_id").alias("mid"))
    from geoparquet_io_spark.geotable import GeoTable
    GeoTable(markers, None).write(right)
    out3 = str(tmp_path / "joined")
    assert main(["asof-join", src, right, out3, "--key", "user_id",
                 "--broadcast"]) == 0
    j = spark.read.parquet(out3)
    assert j.count() == gt.count() and "asof_mid" in j.columns


def test_check_granular_verbs(src, capsys):
    """check bbox / row-group / compression (reference cli/main.py:700-998)."""
    assert _run(["check", "bbox", src]) == 0
    out = json.loads(capsys.readouterr().out)
    assert out["has_geo"] and out["has_covering"] and out["ok"]

    assert _run(["check", "row-group", src]) == 0
    out = json.loads(capsys.readouterr().out)
    assert out["ok"] and out["files"][0]["num_row_groups"] >= 1

    assert _run(["check", "compression", src]) == 0
    out = json.loads(capsys.readouterr().out)
    assert out["ok"] and "geometry" in out["columns"]


def test_check_compression_flags_bad_codec(spark, tmp_path, capsys):
    """A snappy-compressed geometry column must fail check compression."""
    import pyarrow.parquet as pq

    from geoparquet_io_spark.queries import _events_points

    gt = _events_points(spark, SF_SMOKE)
    good = str(tmp_path / "good.parquet")
    gt.write(good)
    bad = str(tmp_path / "bad.parquet")
    pq.write_table(pq.read_table(good), bad, compression="snappy")
    assert _run(["check", "compression", bad]) == 1
    out = json.loads(capsys.readouterr().out)
    assert any("SNAPPY" in i for i in out["issues"])


def test_inspect_meta_dump(src, capsys):
    assert _run(["inspect", "meta", src]) == 0
    out = json.loads(capsys.readouterr().out)
    assert out["geo"] is not None and "columns" in out["geo"]
    assert any(f["name"] == "geometry" for f in out["schema"])


def test_publish_upload_normalizes_and_writes(src, tmp_path, capsys):
    out = str(tmp_path / "published")
    assert _run(["publish-upload", src, out]) == 0
    rep = json.loads(capsys.readouterr().out)
    assert rep["files"] >= 1
    import glob

    import pyarrow.parquet as pq

    files = glob.glob(out + "/**/*.parquet", recursive=True) or [out]
    assert all(b"geo" in (pq.read_schema(f).metadata or {}) for f in files)


def test_benchmark_compare_and_report(tmp_path, capsys):
    a = tmp_path / "a.json"
    b = tmp_path / "b.json"
    a.write_text(json.dumps({"value": 10.0, "sf": 0.01,
                             "queries": {"q1": 4.0, "q2": 6.0}}))
    b.write_text(json.dumps({"value": 9.0, "sf": 0.01,
                             "queries": {"q1": 3.0, "q2": 6.0, "q3": 1.0}}))
    assert _run(["benchmark", "compare", str(a), str(b)]) == 0
    rep = json.loads(capsys.readouterr().out)
    q1 = next(r for r in rep["queries"] if r["query"] == "q1")
    assert q1["delta_pct"] == -25.0
    assert rep["candidate_only"] == ["q3"]

    # a >25% regression fails the compare gate
    c = tmp_path / "c.json"
    c.write_text(json.dumps({"value": 20.0, "sf": 0.01,
                             "queries": {"q1": 8.0, "q2": 6.0}}))
    assert _run(["benchmark", "compare", str(a), str(c)]) == 1
    capsys.readouterr()

    assert _run(["benchmark", "report", str(a)]) == 0
    text = capsys.readouterr().out
    assert "q2" in text and "TOTAL" in text


def test_convert_row_group_mb_targeting(spark, tmp_path, capsys):
    """--row-group-mb sizes written groups from a compressed sample: a
    tiny target must produce multiple small row groups where the default
    would write one."""
    import pyarrow.parquet as pq

    from geoparquet_io_spark.queries import _events_points

    gt = _events_points(spark, SF_SMOKE)
    src2 = str(tmp_path / "src2.parquet")
    gt.write(src2)
    out = str(tmp_path / "sized.parquet")
    # ~tiny target -> clamped to the 10k-row floor -> >= 1 group per 10k
    assert _run(["convert", src2, out, "--no-sort",
                 "--row-group-mb", "0.05"]) == 0
    md = pq.read_metadata(out)
    rows = md.num_rows
    import math

    expected = math.ceil(rows / 10_000)
    assert md.num_row_groups == expected
    sizes = [md.row_group(i).num_rows for i in range(md.num_row_groups)]
    assert max(sizes) <= 10_000


def test_row_group_estimator_clamps():
    from geoparquet_io_spark.operators.inspect_check import (
        ROW_GROUP_MAX_ROWS, ROW_GROUP_MIN_ROWS,
    )

    # pure function bounds (no Spark needed beyond the sample df above)
    assert ROW_GROUP_MIN_ROWS == 10_000 and ROW_GROUP_MAX_ROWS == 200_000


def test_check_compression_fix_rewrites(spark, tmp_path, capsys):
    """check compression --fix recompresses a snappy file to ZSTD and the
    fixed file passes."""
    import pyarrow.parquet as pq

    from geoparquet_io_spark.queries import _events_points

    gt = _events_points(spark, SF_SMOKE)
    good = str(tmp_path / "good.parquet")
    gt.write(good)
    bad = str(tmp_path / "bad.parquet")
    pq.write_table(pq.read_table(good), bad, compression="snappy")
    fixed = str(tmp_path / "fixed.parquet")
    assert _run(["check", "compression", bad, "--fix",
                 "--fix-output", fixed]) == 0
    out = json.loads(capsys.readouterr().out)
    assert out["fixed"]["compression"] == "ZSTD"
    assert _run(["check", "compression", fixed]) == 0
    capsys.readouterr()
    # footer geo metadata survived the rewrite
    assert b"geo" in (pq.read_schema(fixed).metadata or {})


def test_check_row_group_fix_resizes(spark, tmp_path, capsys):
    """check row-group --fix merges pathological tiny groups."""
    import pyarrow.parquet as pq

    from geoparquet_io_spark.queries import _events_points

    gt = _events_points(spark, SF_SMOKE)
    good = str(tmp_path / "good.parquet")
    gt.write(good)
    t = pq.read_table(good)
    shredded = str(tmp_path / "shredded.parquet")
    pq.write_table(t, shredded, compression="zstd", row_group_size=7)
    assert _run(["check", "row-group", shredded]) == 1
    capsys.readouterr()
    fixed = str(tmp_path / "rg_fixed.parquet")
    assert _run(["check", "row-group", shredded, "--fix",
                 "--fix-output", fixed]) == 0
    out = json.loads(capsys.readouterr().out)
    assert out["fixed"]["row_group_rows"] >= 10_000
    md = pq.read_metadata(fixed)
    assert md.num_row_groups == 1   # 1k rows -> single >=10k-cap group
    assert md.num_rows == t.num_rows


def test_compact_cli(spark, tmp_path, capsys):
    from geoparquet_io_spark.queries import _events_points

    gt = _events_points(spark, SF_SMOKE)
    small = str(tmp_path / "small")
    from geoparquet_io_spark.sources.geoparquet import write

    write(gt.df.repartition(8), small, geo=gt.geo)
    out = str(tmp_path / "compacted")
    assert _run(["compact", small, out, "--target-mb", "64"]) == 0
    rep = json.loads(capsys.readouterr().out)
    assert rep["files_before"] == 8 and rep["files_after"] == 1


def test_manifest_cli(spark, tmp_path, capsys):
    from geoparquet_io_spark.queries import _events_points

    gt = _events_points(spark, SF_SMOKE)
    qk = str(tmp_path / "qk")
    gt.partition_by_quadkey(qk, partition_resolution=2)
    mf = str(tmp_path / "manifest")
    assert _run(["manifest", qk, "--output", mf,
                 "--bbox=-170,5,-10,80"]) == 0
    rep = json.loads(capsys.readouterr().out)
    assert rep["files"] > 3
    assert rep["files_scanned"] + rep["files_skipped"] == rep["files"]
    assert rep["files_skipped"] > 0
    m = spark.read.parquet(mf)
    assert m.count() == rep["files"]
    # bad bbox arg
    assert _run(["manifest", qk, "--bbox", "1,2,3"]) == 2
    capsys.readouterr()


def test_kmv_overlap_cli(spark, tmp_path, capsys):
    left = str(tmp_path / "a.parquet")
    right = str(tmp_path / "b.parquet")
    spark.createDataFrame([(f"v{i}",) for i in range(60)], ["x"]) \
        .write.parquet(left)
    spark.createDataFrame([(f"v{i}",) for i in range(40, 100)], ["x"]) \
        .write.parquet(right)
    assert _run(["kmv-overlap", left, right, "--column", "x"]) == 0
    rep = json.loads(capsys.readouterr().out)
    assert rep["union_distinct_est"] == 100
    assert rep["intersect_est"] == 20
    assert rep["jaccard"] == 0.2


def test_pack_sequences_cli(spark, tmp_path, capsys):
    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame([(i, 3) for i in range(1, 9)],
                          ["doc_id", "n_tokens"]).write.parquet(src)
    out = str(tmp_path / "packed")
    assert _run(["pack-sequences", src, out, "--max-tokens", "8"]) == 0
    rep = json.loads(capsys.readouterr().out)
    assert rep["n_chunks"] == 3                       # 24 tokens / 8
    packed = {r["doc_id"]: r["first_chunk"]
              for r in spark.read.parquet(out).collect()}
    assert packed[1] == 0 and packed[8] == 2


def test_leakage_split_cli(spark, tmp_path, capsys):
    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame([(i,) for i in range(1, 201)],
                          ["doc_id"]).write.parquet(src)
    gp = str(tmp_path / "groups.parquet")
    spark.createDataFrame([(1, 1), (2, 1), (3, 1)],
                          ["id", "component"]).write.parquet(gp)
    out = str(tmp_path / "splits")
    assert _run(["leakage-split", src, gp, out,
                 "--weights", "train=0.8,valid=0.1,test=0.1"]) == 0
    rep = json.loads(capsys.readouterr().out)
    assert sum(rep["counts"].values()) == 200
    back = {r["doc_id"]: r["split"]
            for r in spark.read.parquet(out).collect()}
    assert back[1] == back[2] == back[3]       # group moves as one


def test_diff_cli(spark, src, tmp_path, capsys):
    import geoparquet_io_spark as gps

    gt = gps.read(spark, src)
    v2 = str(tmp_path / "v2.parquet")
    from pyspark.sql import functions as F

    from geoparquet_io_spark.geotable import GeoTable

    GeoTable(gt.df.filter(F.col("event_id") % 5 != 0), gt.geo).write(v2)
    assert _run(["diff", src, v2, "--key", "event_id"]) == 0
    rep = json.loads(capsys.readouterr().out)
    assert rep["added"] == 0 and rep["changed"] == 0
    assert rep["removed"] > 0 and rep["unchanged"] > 0


def test_distance_join_cli(spark, tmp_path, capsys):
    left = spark.createDataFrame(
        [(1, 0.0, 0.0), (2, 5.0, 5.0)], ["lid", "alon", "alat"])
    right = spark.createDataFrame(
        [(10, 0.3, 0.4), (11, 9.0, 9.0)], ["rid", "blon", "blat"])
    lp = str(tmp_path / "l.parquet"); rp = str(tmp_path / "r.parquet")
    left.coalesce(1).write.parquet(lp); right.coalesce(1).write.parquet(rp)
    out = str(tmp_path / "dj")
    assert _run(["distance-join", lp, rp, out, "--radius", "1.0",
                 "--left-xy", "alon,alat", "--right-xy", "blon,blat"]) == 0
    got = spark.read.parquet(out).collect()
    assert len(got) == 1 and got[0]["lid"] == 1 and got[0]["rid"] == 10

    out2 = str(tmp_path / "knn")
    assert _run(["distance-join", lp, rp, out2, "--k", "1",
                 "--left-id", "lid", "--tie", "rid",
                 "--left-xy", "alon,alat", "--right-xy", "blon,blat"]) == 0
    got2 = {r["lid"]: r["rid"] for r in spark.read.parquet(out2).collect()}
    assert got2 == {1: 10, 2: 11}
    # kNN without --left-id errors cleanly
    assert _run(["distance-join", lp, rp, out2, "--k", "1",
                 "--left-xy", "alon,alat", "--right-xy", "blon,blat"]) == 2
    capsys.readouterr()


def test_snapshot_and_vacuum_cli(spark, tmp_path, capsys):
    p = str(tmp_path / "snapds")
    spark.range(0, 40).coalesce(1).write.mode("append").parquet(p)
    assert _run(["snapshot", p, "--note", "b1"]) == 0
    rec = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rec["version"] == 1 and rec["n_rows"] == 40
    spark.range(40, 100).coalesce(1).write.mode("append").parquet(p)
    assert _run(["snapshot", p]) == 0
    capsys.readouterr()
    # history
    assert _run(["snapshot", p, "--history"]) == 0
    hist = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert [h["version"] for h in hist] == [1, 2]
    # time-travel read of v1
    assert _run(["snapshot", p, "--read", "1"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["rows"] == 40
    # uncommitted straggler, then vacuum dry run + real
    spark.range(100, 110).coalesce(1).write.mode("append").parquet(p)
    # default grace spares the freshly-written straggler
    assert _run(["vacuum", p, "--dry-run"]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["files_removed"] == 0 and rep["files_spared_young"] == 1
    assert _run(["vacuum", p, "--dry-run", "--min-age-seconds", "0"]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["files_removed"] == 1 and rep["dry_run"] is True
    assert _run(["vacuum", p, "--keep", "2", "--min-age-seconds", "0"]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["removed_snapshots"] == [1]
    assert _run(["snapshot", p, "--read"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["rows"] == 100


def test_cli_plugin_entry_points(monkeypatch, capsys):
    """Entry-point plugin verbs (gpio_spark.plugins) register real
    subcommands; a broken plugin is skipped with a warning instead of
    taking down the CLI (reference: cli/main.py:109)."""
    from geoparquet_io_spark import cli as cli_mod

    calls = {}

    def good_register(sub):
        p = sub.add_parser("hello-plugin")
        p.add_argument("--name", default="world")

        def run(args):
            calls["name"] = args.name
            return 0

        p.set_defaults(fn=run)

    def bad_register(sub):
        raise RuntimeError("boom")

    class _EP:
        def __init__(self, name, fn):
            self.name = name
            self._fn = fn

        def load(self):
            return self._fn

    def fake_entry_points(group=None):
        assert group == cli_mod.PLUGIN_GROUP
        return [_EP("good", good_register), _EP("bad", bad_register)]

    import importlib.metadata as md
    monkeypatch.setattr(md, "entry_points", fake_entry_points)
    rc = cli_mod.main(["hello-plugin", "--name", "spark"])
    assert rc == 0
    assert calls["name"] == "spark"
    assert "plugin 'bad' failed" in capsys.readouterr().err


def test_cli_plugin_absence_is_clean(monkeypatch):
    """No plugins installed -> the core verb table is unchanged."""
    from geoparquet_io_spark import cli as cli_mod

    import importlib.metadata as md
    monkeypatch.setattr(md, "entry_points",
                        lambda group=None: [])
    p = cli_mod.build_parser()
    assert p is not None


def test_benchmark_engines_cli(spark, capsys):
    """The cross-engine race runs a real registry query on BOTH engines
    over the same parquet and the row counts must agree."""
    rc = _run(["benchmark", "engines", "--queries", "extract_where_columns",
               "--sf-dir", SF_SMOKE])
    out = json.loads(capsys.readouterr().out.strip())
    assert rc == 0
    row = out["engines"][0]
    assert row["query"] == "extract_where_columns"
    assert row["rows_match"] and row["rows"] > 0
    assert row["spark_s"] >= 0 and row["duckdb_s"] >= 0


def test_raster_info_cli(tmp_path, capsys):
    import numpy as np

    from geoparquet_io_spark.functions.tiff import build_geotiff

    img = (np.arange(48, dtype=np.uint8)).reshape(6, 8)
    p = str(tmp_path / "t.tif")
    open(p, "wb").write(build_geotiff(
        img, epsg=32633, origin=(500000.0, 4650000.0), scale=(30.0, 30.0)))
    assert _run(["raster-info", p, "--stats"]) == 0
    out = json.loads(capsys.readouterr().out.strip())
    assert (out["width"], out["height"], out["epsg"]) == (8, 6, 32633)
    assert out["pixel_size"] == [30.0, 30.0]
    assert out["band_min"] == 0.0 and out["band_max"] == 47.0
    assert abs(out["band_mean"] - 23.5) < 1e-9


def test_convert_vector_formats(spark, tmp_path, capsys):
    """CLI convert round-trips through the pure-Python GDAL-format
    paths: parquet -> .gpkg/.fgb -> parquet."""
    import pyarrow.parquet as pq

    from geoparquet_io_spark.queries import _events_points
    from tests.conftest import SF_SMOKE

    gt = _events_points(spark, SF_SMOKE)
    src = str(tmp_path / "pts.parquet")
    gt.write(src)
    n = gt.df.count()
    for ext in (".gpkg", ".fgb"):
        mid = str(tmp_path / f"mid{ext}")
        assert _run(["convert", src, mid, "--no-sort"]) == 0
        back = str(tmp_path / f"back{ext}.parquet")
        assert _run(["convert", mid, back, "--no-sort"]) == 0
        assert pq.read_metadata(back).num_rows == n


def test_cli_kmeans_and_join_size(spark, tmp_path, capsys):
    import json as _json

    emb = f"{SF_SMOKE}/embeddings.parquet"
    assert _run(["kmeans-train", emb, "--dim", "64", "--k", "4",
                 "--iterations", "1"]) == 0
    doc = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert doc["n_centroids"] == 4 and len(doc["centroids"]) == 4
    assert len(doc["centroids"][0]) == 64

    li = f"{SF_SMOKE}/lineitem.parquet"
    assert _run(["join-size-estimate", li, li, "--key", "l_partkey"]) == 0
    doc = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert doc["est_join_rows"] > 0
