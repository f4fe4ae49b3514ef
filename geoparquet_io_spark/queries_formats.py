"""Oracle-backed queries for the pure-Python vector formats
(GeoPackage / Shapefile / FlatGeobuf — sources/gpkg.py,
sources/shapefile.py, sources/fgb.py).

Each query puts the WHOLE format path inside the correctness gate:
events -> WKB points -> write <format> -> read back (distributed
scan) -> recover coordinates from WKB -> aggregate.  The DuckDB
oracle computes the same aggregate straight from the parquet table,
never touching the format — so a match proves the encode/decode chain
is lossless.  Reference parity: convert to/from GeoPackage, Shapefile,
FlatGeobuf (core/convert.py:995-1132, core/format_writers.py:99-243),
here with zero GDAL dependency.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F

from geoparquet_io_spark.queries import _events_points, register
from geoparquet_io_spark.testsupport.tables import (
    EVENT_LAT_SQL,
    EVENT_LON_SQL,
)

_EVT = (f"SELECT event_id, {EVENT_LON_SQL} AS lon, {EVENT_LAT_SQL} AS lat "
        f"FROM events WHERE event_id % 20 = 0")

_AGG_SQL = f"""
    WITH pts AS ({_EVT})
    SELECT COUNT(*) AS n,
           COUNT(DISTINCT event_id) AS n_ids,
           ROUND(SUM(lon), 3) AS sum_x,
           ROUND(SUM(lat), 3) AS sum_y,
           ROUND(MIN(lon), 1) AS min_x,
           ROUND(MAX(lat), 1) AS max_y
    FROM pts
    """


def _subset(spark, sf_dir):
    """Deterministic slice of the events points (1/20th) as a GeoTable
    with event_id kept."""
    from geoparquet_io_spark.geotable import GeoTable

    gt = _events_points(spark, sf_dir)
    return GeoTable(gt.df.filter(F.col("event_id") % 20 == 0)
                    .select("event_id", "geometry"), gt.geo)


def _agg_back(df, gcol="geometry"):
    from geoparquet_io_spark.functions import geom as G

    return df.select(
        "event_id",
        G.st_x(F.col(gcol)).alias("x"),
        G.st_y(F.col(gcol)).alias("y"),
    ).agg(
        F.count("*").alias("n"),
        F.countDistinct("event_id").alias("n_ids"),
        F.round(F.sum("x"), 3).alias("sum_x"),
        F.round(F.sum("y"), 3).alias("sum_y"),
        F.round(F.min("x"), 1).alias("min_x"),
        F.round(F.max("y"), 1).alias("max_y"),
    )


@register("convert_gpkg_roundtrip", _AGG_SQL)
def q_gpkg_roundtrip(spark, sf_dir):
    """events points -> GeoPackage (stdlib sqlite3 writer) -> distributed
    rowid-range read -> coordinate aggregate."""
    from geoparquet_io_spark.sources.gpkg import read_gpkg, write_gpkg

    gt = _subset(spark, sf_dir)
    out = os.path.join(tempfile.mkdtemp(prefix="gpkg_rt_"), "pts.gpkg")
    write_gpkg(gt, out, layer="pts")
    back = read_gpkg(spark, out)
    return _agg_back(back.df)


@register("convert_shp_roundtrip", _AGG_SQL)
def q_shp_roundtrip(spark, sf_dir):
    """events points -> Shapefile (.shp/.shx/.dbf) -> distributed
    record-range read -> coordinate aggregate."""
    from geoparquet_io_spark.sources.shapefile import (
        read_shapefile,
        write_shapefile,
    )

    gt = _subset(spark, sf_dir)
    out = os.path.join(tempfile.mkdtemp(prefix="shp_rt_"), "pts.shp")
    write_shapefile(gt, out)
    back = read_shapefile(spark, out)
    return _agg_back(back.df)


@register("convert_fgb_roundtrip", _AGG_SQL)
def q_fgb_roundtrip(spark, sf_dir):
    """events points -> FlatGeobuf (own FlatBuffers runtime) ->
    distributed byte-range read -> coordinate aggregate."""
    from geoparquet_io_spark.sources.fgb import read_fgb, write_fgb

    gt = _subset(spark, sf_dir)
    out = os.path.join(tempfile.mkdtemp(prefix="fgb_rt_"), "pts.fgb")
    write_fgb(gt, out)
    back = read_fgb(spark, out)
    return _agg_back(back.df)


_FLAC_ORACLE = """
    WITH d AS (
      SELECT doc_id, length(text) % 3 AS m,
             substr(repeat(text, CAST(ceil(192.0 / length(text)) AS INT)),
                    1, 192) AS t
      FROM documents WHERE length(text) >= 1),
    v AS (
      SELECT doc_id, CASE m WHEN 0 THEN 48 WHEN 1 THEN 64 ELSE 96 END AS n, t
      FROM d)
    SELECT doc_id, 8000 AS sample_rate, 1 AS channels,
           ROUND(CAST(n AS DOUBLE) / 8000, 6) AS duration_s,
           ROUND(sqrt(list_avg(list_transform(range(1, n + 1),
               i -> pow((ascii(substr(t, 2*i - 1, 1)) * 256
                         + ascii(substr(t, 2*i, 1))) / 32768.0, 2)))),
                 6) AS rms
    FROM v
    """


@register("multimodal_flac_features", _FLAC_ORACLE)
def q_flac_features(spark, sf_dir):
    """REAL FLAC decode, graded: each document becomes a VERBATIM-coded
    FLAC stream assembled with native binary concat (fixed header
    template per blocksize + the text's bytes as big-endian 16-bit
    samples), decoded by the pure-Python bit reader
    (functions/flac.py) inside extract_audio_features; the oracle
    recomputes RMS/duration from the SAME text bytes with pure SQL byte
    arithmetic — a mismatch anywhere in the bit-level decode chain
    (frame sync, subframe header, sample unpacking, normalization)
    fails the hash."""
    import numpy as np

    from geoparquet_io_spark.functions.flac import decode_flac, encode_flac
    from geoparquet_io_spark.operators.multimodal import (
        extract_audio_features)
    from geoparquet_io_spark.operators.skew import spread
    from geoparquet_io_spark.testsupport.tables import load_table

    # template per blocksize: everything before the verbatim sample
    # bytes; build-time sanity check via the decoder itself
    prefixes = {}
    for n in (48, 64, 96):
        full = encode_flac(np.zeros((n, 1), dtype=np.int64),
                           sample_rate=8000, blocksize=n,
                           subframe="verbatim")
        prefix = full[:len(full) - 2 * n - 2]     # strip samples + CRC-16
        # ASCII-range probe (like real document text): high byte < 128
        # keeps the big-endian 16-bit samples positive
        probe = bytes(32 + (i * 7) % 95 for i in range(2 * n))
        dec, info = decode_flac(prefix + probe + b"\x00\x00")
        exp = [probe[2 * i] * 256 + probe[2 * i + 1] for i in range(n)]
        assert dec[:, 0].tolist() == exp and info["sample_rate"] == 8000
        prefixes[n] = prefix

    d = (spread(load_table(spark, sf_dir, "documents"))
         .filter(F.length("text") >= 1)
         .withColumn("t", F.expr(
             "substr(repeat(text, cast(ceil(192.0/length(text)) as int)),"
             " 1, 192)")))
    m = F.length("text") % 3

    def payload(n):
        return F.concat(F.lit(bytearray(prefixes[n])),
                        F.encode(F.substring("t", 1, 2 * n), "utf-8"),
                        F.lit(b"\x00\x00"))

    data = (F.when(m == 0, payload(48)).when(m == 1, payload(64))
            .otherwise(payload(96)))
    out = extract_audio_features(d.withColumn("data", data), "data")
    a = F.col("audio_features")
    return out.select(
        "doc_id",
        a["sample_rate"].alias("sample_rate"),
        a["channels"].alias("channels"),
        F.round(a["duration_s"], 6).alias("duration_s"),
        F.round(a["rms"], 6).alias("rms"),
    )


_CLIP_ORACLE = """
    WITH b AS (
      SELECT n_nationkey,
             {xmin} AS bxmin, {ymin} AS bymin,
             {xmax} AS bxmax, {ymax} AS bymax
      FROM nation),
    cells AS (
      SELECT n_nationkey, bxmin, bymin, bxmax, bymax, cx.cx, cy.cy
      FROM b,
      LATERAL (SELECT UNNEST(range(
          CAST(floor((bxmin + 180) / 10) AS INT),
          CAST(floor((bxmax + 180) / 10 - 1e-12) AS INT) + 1)) AS cx) cx,
      LATERAL (SELECT UNNEST(range(
          CAST(floor((bymin + 90) / 10) AS INT),
          CAST(floor((bymax + 90) / 10 - 1e-12) AS INT) + 1)) AS cy) cy)
    SELECT cx AS cell_x, cy AS cell_y,
           COUNT(*) AS n_pieces,
           ROUND(SUM(
             GREATEST(0.0, LEAST(bxmax, -180 + (cx + 1) * 10.0)
                           - GREATEST(bxmin, -180 + cx * 10.0))
             * GREATEST(0.0, LEAST(bymax, -90 + (cy + 1) * 10.0)
                             - GREATEST(bymin, -90 + cy * 10.0))), 6)
             AS area_sum
    FROM cells
    GROUP BY cx, cy
    """.format(**__import__("geoparquet_io_spark.testsupport.tables",
                            fromlist=["NATION_BOX_SQL"]).NATION_BOX_SQL)


@register("geo_clip_to_grid", _CLIP_ORACLE)
def q_clip_to_grid(spark, sf_dir):
    """Map tiling, graded: nation boxes -> polygon WKB -> clip_to_grid
    (Sutherland-Hodgman per cell, map-only) -> per-cell piece count +
    clipped-area sum.  The oracle recomputes each box ∩ cell area with
    pure interval arithmetic — any error in the clipping kernel, the
    cell-coverage enumeration, or the area integral breaks the hash.
    Area is CONSERVED across the cut (sum over cells == box area), which
    the interval oracle checks implicitly."""
    from pyspark.sql import functions as FF

    from geoparquet_io_spark.functions import geom as G
    from geoparquet_io_spark.functions import wkb as W
    from geoparquet_io_spark.operators.tiling import clip_to_grid
    from geoparquet_io_spark.testsupport.tables import (
        load_table, nation_boxes)

    n = nation_boxes(load_table(spark, sf_dir, "nation"))
    boxes = n.withColumn(
        "geometry", G.st_box("xmin", "ymin", "xmax", "ymax")) \
        .select("n_nationkey", "geometry")
    tiles = clip_to_grid(boxes, cell_size=10.0, origin=(-180.0, -90.0))
    area = G.st_area(FF.col("geometry"))
    return tiles.groupBy("cell_x", "cell_y").agg(
        FF.count("*").alias("n_pieces"),
        FF.round(FF.sum(area), 6).alias("area_sum"),
    )


@register("convert_geojsonl_roundtrip", _AGG_SQL)
def q_geojsonl_roundtrip(spark, sf_dir):
    """events points -> newline-delimited GeoJSON (GeoJSONSeq, the
    splittable variant) -> DISTRIBUTED spark.read.text + per-task parse
    -> coordinate aggregate.  Same format-blind oracle as the other
    converters; 7-digit precision is lossless for these coordinates
    (one decimal digit of true precision)."""
    from geoparquet_io_spark.sources.geojson import (
        read_geojsonl, write_geojsonl)

    gt = _subset(spark, sf_dir)
    out = os.path.join(tempfile.mkdtemp(prefix="gjl_rt_"), "pts.geojsonl")
    write_geojsonl(gt, out)
    back = read_geojsonl(spark, out)
    return _agg_back(back.df)


@register(
    "dataset_zone_map_prune",
    """
    SELECT COUNT(*) AS n,
           ROUND(SUM(o_totalprice), 2) AS sum_price,
           TRUE AS pruned_some
    FROM orders WHERE o_orderkey >= 30000
    """,
)
def q_zone_map_prune(spark, sf_dir):
    """Column zone maps, graded: orders range-partitioned by o_orderkey
    into files -> driver footer-stats read
    (build_column_manifest) -> file-level pruning for o_orderkey >=
    30000 (read_pruned_where) -> exact filter + aggregate.  The oracle
    is the same aggregate over the UNPRUNED table — pruning must be
    lossless; the query also asserts files were actually skipped
    (range partitioning guarantees disjoint key ranges per file)."""
    from geoparquet_io_spark.operators.maintenance import (
        build_column_manifest, read_pruned_where)
    from geoparquet_io_spark.testsupport.tables import load_table

    orders = load_table(spark, sf_dir, "orders")
    tmp = tempfile.mkdtemp(prefix="zonemap_")
    orders.repartitionByRange(8, "o_orderkey").write \
        .mode("overwrite").parquet(tmp)
    manifest = build_column_manifest(spark, tmp, ["o_orderkey"])
    df, report = read_pruned_where(
        spark, tmp, [("o_orderkey", ">=", 30000)], manifest=manifest)
    assert report["files_skipped"] > 0, report      # zone maps engaged
    return df.filter(F.col("o_orderkey") >= 30000).agg(
        F.count("*").alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        F.lit(True).alias("pruned_some"),
    )


@register(
    "geo_bounds_metadata_only",
    f"""
    WITH pts AS (SELECT {EVENT_LON_SQL} AS lon, {EVENT_LAT_SQL} AS lat
                 FROM events)
    SELECT MIN(lon) AS xmin, MIN(lat) AS ymin,
           MAX(lon) AS xmax, MAX(lat) AS ymax
    FROM pts
    """,
)
def q_bounds_metadata_only(spark, sf_dir):
    """events points -> bbox covering -> distributed write with per-file
    bbox footers -> dataset envelope recovered from FOOTERS ONLY
    (inspect_check.bounds_from_metadata: O(files), zero row reads — the
    100 TB form of the bounds pre-pass).  The oracle recomputes the
    envelope from raw coordinates, so a match proves the stamped
    footers carry the exact extent."""
    from geoparquet_io_spark.operators.inspect_check import (
        bounds_from_metadata,
    )

    gt = _events_points(spark, sf_dir)
    if "bbox" not in gt.df.columns:
        gt = gt.add_bbox()
    out = os.path.join(tempfile.mkdtemp(prefix="bmeta_"), "ds")
    gt.write(out)
    env = bounds_from_metadata(spark, out)
    if env is None:
        raise AssertionError("metadata bounds unavailable after "
                             "per-file-bbox write")
    return spark.createDataFrame(
        [env], "xmin double, ymin double, xmax double, ymax double")
