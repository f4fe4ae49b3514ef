"""When the columns a curve sort's envelope/statistics pass reads come
out of Python, the sort pins its input lazily, so the range sort reads
the stored rows instead of re-running the upstream chain.  Pinned output
must equal the unpinned order exactly, and the upstream UDFs must run
once per row.  When the stats read only native columns there is no pin,
so UDF columns the caller drops stay pruned."""

import pandas as pd
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from geoparquet_io_spark.functions import geom as G
from geoparquet_io_spark.geotable import GeoTable
from geoparquet_io_spark.meta import GeoColumnMeta, GeoMeta

N = 400


def _polygons(spark, tap=None):
    """N small squares scattered over the globe, WKB from a pandas UDF,
    no bbox covering, four input partitions.  ``tap`` (a pandas UDF) is
    applied to the geometry column when given."""
    df = (spark.range(N, numPartitions=4)
          .withColumn("x", (F.col("id") * 7919 % 3400) / 10.0 - 170.0)
          .withColumn("y", (F.col("id") * 104729 % 1600) / 10.0 - 80.0)
          .withColumn("s", 0.5 + (F.col("id") % 5) / 10.0)
          .withColumn("wkt", F.format_string(
              "POLYGON((%f %f, %f %f, %f %f, %f %f, %f %f))",
              "x", "y", F.col("x") + F.col("s"), "y",
              F.col("x") + F.col("s"), F.col("y") + F.col("s"),
              "x", F.col("y") + F.col("s"), "x", "y"))
          .select("id", G.st_geomfromtext(F.col("wkt")).alias("geometry")))
    if tap is not None:
        df = df.withColumn("geometry", tap(F.col("geometry")))
    return GeoTable(df, GeoMeta(columns={"geometry": GeoColumnMeta(
        crs="OGC:CRS84")}))


def _chain(spark):
    """Exact-path extract (no covering) -> add_bbox: both UDF-bearing."""
    gt = _polygons(spark)
    assert gt.bbox_column is None
    return gt.extract(bbox=(-120.0, -60.0, 120.0, 60.0)).add_bbox()


def _rows(df, key):
    return [(r["id"], r[key], bytes(r["geometry"]))
            for r in df.select("id", key, "geometry").collect()]


def _pinned(df) -> bool:
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return "LogicalRDD" in plan


def test_sort_hilbert_pinned_equals_unpinned(spark):
    gt = _chain(spark)
    pinned = gt.sort_hilbert(keep_key=True)
    unpinned = gt.sort_hilbert(keep_key=True, env=gt.bounds())
    assert _pinned(pinned.df) and not _pinned(unpinned.df)
    got = _rows(pinned.df, "__hilbert")
    assert 0 < len(got) < N
    assert got == _rows(unpinned.df, "__hilbert")
    keys = [k for _, k, _ in got]
    assert keys == sorted(keys)


def test_sort_zorder_pinned_equals_separate_stats(spark):
    from geoparquet_io_spark.functions.geokeys import morton_key
    from geoparquet_io_spark.operators.add_columns import _centroid_lonlat

    gt = _chain(spark)
    pinned = gt.sort_zorder(keep_key=True)
    assert _pinned(pinned.df)
    env = gt.bounds()
    x, y = _centroid_lonlat(gt.df, gt.geometry_column, gt.bbox_column)
    ref = gt.df.withColumn("__zorder", morton_key(x, y, env)) \
        .orderBy("__zorder")
    assert not _pinned(ref)
    got = _rows(pinned.df, "__zorder")
    assert 0 < len(got) < N
    assert got == _rows(ref, "__zorder")


def _interleave(ids: list[int], bits: int) -> int:
    k = len(ids)
    return sum(((v >> j) & 1) << (j * k + i)
               for i, v in enumerate(ids) for j in range(bits))


@pytest.mark.parametrize("method", ["linear", "range"])
def test_zorder_by_pinned_equals_separate_stats(spark, method):
    """Keys from statistics collected in a separate job, interleaved in
    Python; bbox corners come from the add_bbox UDF upstream.  The
    centre x is distinct per row at 8 bits, so keys are unique and the
    order is fully determined by them."""
    from geoparquet_io_spark.operators.sorts import zorder_by

    bits, n = 8, 255
    df = _chain(spark).df.select(
        "id", "geometry",
        ((F.col("bbox.xmin") + F.col("bbox.xmax")) / 2).alias("cx"),
        ((F.col("bbox.ymin") + F.col("bbox.ymax")) / 2).alias("cy"))
    cols = ["cx", "cy"]
    out = zorder_by(df, cols, bits=bits, method=method, keep_key=True)
    assert _pinned(out)
    vals = {r["id"]: (r["cx"], r["cy"]) for r in df.collect()}
    if method == "linear":
        row = df.agg(F.min("cx"), F.max("cx"), F.min("cy"), F.max("cy")) \
            .collect()[0]
        lim = [(row[0], row[1]), (row[2], row[3])]

        def bucket(v, c):
            lo, hi = lim[c]
            return min(n, max(0, int((v - lo) / (hi - lo) * n + 0.5)))
    else:
        qs = [i / (n + 1) for i in range(1, n + 1)]
        bnd = df.approxQuantile(cols, qs, 0.001)

        def bucket(v, c):
            return sum(b <= v for b in bnd[c])
    want = {i: _interleave([bucket(v, c) for c, v in enumerate(xy)], bits)
            for i, xy in vals.items()}
    assert len(set(want.values())) == len(want)
    got = [(r["id"], r["__zorder_key"])
           for r in out.select("id", "__zorder_key").collect()]
    assert got == sorted(want.items(), key=lambda kv: kv[1])


@pytest.mark.parametrize("sort", ["sort_hilbert", "sort_zorder"])
def test_sort_write_runs_upstream_udf_once(spark, tmp_path, sort):
    """The envelope pass, the range sort's sample, its shuffle-map and
    the footer-stats aggregate of write() share one evaluation of the
    upstream chain."""
    acc = spark.sparkContext.accumulator(0)

    @F.pandas_udf("binary")
    def tap(g: pd.Series) -> pd.Series:
        acc.add(len(g))
        return g

    gt = getattr(_polygons(spark, tap), sort)()
    files = gt.write(str(tmp_path / "out"))
    assert sum(pq.ParquetFile(f).metadata.num_rows for f in files) == N
    assert acc.value == N


@pytest.mark.parametrize("ran_first", [False, True])
def test_pin_sees_python_behind_adaptive_plan(spark, tmp_path, ran_first):
    """A geometry UDF applied after a groupBy: the stats read it through
    an AQE-wrapped plan, and still do once the frame has run.  The sort
    must pin, and the UDF must run once per row for sort + write."""
    acc = spark.sparkContext.accumulator(0)

    @F.pandas_udf("binary")
    def tap(g: pd.Series) -> pd.Series:
        acc.add(len(g))
        return g

    base = _polygons(spark)
    gt = base._wrap(base.df.groupBy("id")
                    .agg(F.first("geometry").alias("geometry"))
                    .withColumn("geometry", tap(F.col("geometry"))))
    if ran_first:
        assert len(gt.df.collect()) == N
    before = acc.value
    out = gt.sort_hilbert()
    assert _pinned(out.df)
    files = out.write(str(tmp_path / "out"))
    assert sum(pq.ParquetFile(f).metadata.num_rows for f in files) == N
    assert acc.value - before == N


def test_native_stats_input_is_not_pinned(spark):
    """The bench.py geo_hilbert_key shape: geometry from a pandas UDF,
    a native bbox covering, and a caller that keeps only the id and the
    key.  The stats read the covering, so nothing is pinned and the
    geometry UDF never runs."""
    from geoparquet_io_spark.operators.sorts import zorder_by
    from geoparquet_io_spark.queries import _points_table

    acc = spark.sparkContext.accumulator(0)

    @F.pandas_udf("binary")
    def tap(g: pd.Series) -> pd.Series:
        acc.add(len(g))
        return g

    df = spark.range(N, numPartitions=4).select(
        "id", ((F.col("id") * 7919 % 3400) / 10.0 - 170.0).alias("lon"),
        ((F.col("id") * 104729 % 1600) / 10.0 - 80.0).alias("lat"))
    gt = _points_table(df)
    gt = gt._wrap(gt.df.withColumn("geometry", tap(F.col("geometry"))))
    for out, key in ((gt.sort_hilbert(keep_key=True).df, "__hilbert"),
                     (gt.sort_zorder(keep_key=True).df, "__zorder"),
                     (zorder_by(gt.df, ["lon", "lat"], keep_key=True),
                      "__zorder_key")):
        assert not _pinned(out)
        out.select("id", key).write.format("noop").mode("overwrite").save()
    assert acc.value == 0
