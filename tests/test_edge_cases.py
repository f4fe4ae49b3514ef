"""Edge cases: nested types through the write path, empty/tiny frames."""

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def test_nested_types_roundtrip_write(spark, tmp_path):
    """struct/array/map columns must survive the executor-side writer and
    every wrapper op untouched (reference F3 requirement: Overture nested
    schema passes through all operators)."""
    import geoparquet_io_spark as gps
    from geoparquet_io_spark.queries import _events_points

    gt = _events_points(spark, SF_SMOKE)
    df = (
        gt.df
        .withColumn("names", F.struct(
            F.col("event_type").alias("primary"),
            F.create_map(F.lit("en"), F.col("event_type")).alias("common")))
        .withColumn("tags", F.array(F.lit("a"), F.col("event_type")))
        .withColumn("sources", F.array(F.struct(
            F.lit("synthetic").alias("dataset"),
            F.col("event_id").alias("record_id"))))
    )
    nested = gt._wrap(df)
    out = str(tmp_path / "nested.parquet")
    nested.write(out)
    back = gps.read(spark, out)
    assert back.count() == gt.count()
    sch = dict((f.name, f.dataType.simpleString()) for f in back.df.schema.fields)
    assert sch["names"].startswith("struct<primary:string,common:map<string,string>")
    assert sch["tags"] == "array<string>"
    assert sch["sources"].startswith("array<struct<dataset:string,record_id:bigint")
    # ops pass nested columns through untouched
    ex = back.extract(bbox=(-60, -40, 40, 60))
    assert "names" in ex.df.columns and "sources" in ex.df.columns
    row = ex.df.select("names.common").first()
    assert isinstance(row[0], dict)
    # distributed (hive) write too
    out2 = str(tmp_path / "nested_dir")
    nested.write(out2, partition_by=["event_type"])
    assert spark.read.parquet(out2).count() == gt.count()


def test_empty_dataframe_write(spark, tmp_path):
    from geoparquet_io_spark.queries import _events_points

    gt = _events_points(spark, SF_SMOKE)
    empty = gt.extract(where="event_id < 0")
    out = str(tmp_path / "empty.parquet")
    files = empty.write(out, update_metadata=False)
    assert files == [out]
    assert pq.read_metadata(out).num_rows == 0
    assert b"geo" in pq.read_schema(out).metadata
    # distributed mode: no rows -> ONE schema-only file (an empty dir
    # would make spark.read.parquet raise UNABLE_TO_INFER_SCHEMA)
    files2 = empty.write(str(tmp_path / "empty_dir"), single_file=False,
                         update_metadata=False)
    assert len(files2) == 1
    assert pq.read_metadata(files2[0]).num_rows == 0
    assert b"geo" in pq.read_schema(files2[0]).metadata
    assert spark.read.parquet(str(tmp_path / "empty_dir")).count() == 0


def test_single_row_pipeline(spark, tmp_path):
    from geoparquet_io_spark.queries import _events_points

    gt = _events_points(spark, SF_SMOKE)
    one = gt._wrap(gt.df.limit(1))
    sorted_one = one.sort_hilbert(keep_key=True)
    assert sorted_one.count() == 1
    b = one.bounds()
    assert b[0] == b[2] and b[1] == b[3]  # degenerate envelope OK


def test_extract_empty_result_through_ops(spark):
    from geoparquet_io_spark.queries import _events_points

    gt = _events_points(spark, SF_SMOKE)
    nothing = gt.extract(bbox=(500, 500, 600, 600))  # outside any data
    assert nothing.count() == 0
    assert nothing.extract(where="event_id > 5").count() == 0


def test_null_geometry_rows(spark):
    """NULL geometries flow through accessors/predicates as NULL."""
    from geoparquet_io_spark.functions import geom as G

    df = spark.createDataFrame([(1, 1.0), (2, None)], "id long, x double")
    df = df.withColumn("geometry", G.st_point("x", F.lit(2.0)))
    rows = {r["id"]: r for r in df.select(
        "id",
        G.st_x(F.col("geometry")).alias("gx"),
        G.st_geometrytype(F.col("geometry")).alias("t"),
    ).collect()}
    assert rows[1]["gx"] == 1.0 and rows[1]["t"] == "POINT"
    assert rows[2]["gx"] is None and rows[2]["t"] is None


def test_new_operators_empty_inputs(spark):
    """Empty edges/right-sides/frames must flow through the round-2
    operators without errors or phantom rows."""
    from pyspark.sql import functions as F

    from geoparquet_io_spark.operators.asof import asof_join, asof_join_broadcast
    from geoparquet_io_spark.operators.dedup import (
        connected_components, dedup_transitive,
    )
    from geoparquet_io_spark.operators.sampling import sample_by_hash, split_by_hash

    empty_pairs = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components(empty_pairs).count() == 0
    df = spark.createDataFrame([(1,), (2,)], "doc long")
    assert dedup_transitive(df, empty_pairs, "doc").count() == 2

    left = spark.createDataFrame([(1, 10, "x")], "k long, t long, v string")
    empty_right = spark.createDataFrame([], "k long, t long, px long")
    for fn in (asof_join, asof_join_broadcast):
        out = fn(left, empty_right, key="k", left_ts="t", right_ts="t",
                 right_columns=["px"]).collect()
        assert len(out) == 1 and out[0]["asof_px"] is None

    empty = spark.createDataFrame([], "doc_id long")
    assert sample_by_hash(empty, "doc_id", 0.5).count() == 0
    assert split_by_hash(empty, "doc_id", {"a": 0.5, "b": 0.5}).count() == 0


def test_sampling_null_keys_not_dropped(spark):
    """NULL keys hash the sentinel: never silently dropped at fraction
    1.0, and they land in exactly one deterministic split."""
    from geoparquet_io_spark.operators.sampling import sample_by_hash, split_by_hash

    df = spark.createDataFrame([(1,), (None,), (None,)], "doc_id long")
    assert sample_by_hash(df, "doc_id", 1.0).count() == 3
    rows = split_by_hash(df, "doc_id",
                         {"a": 0.5, "b": 0.5}).collect()
    null_splits = {r["split"] for r in rows if r["doc_id"] is None}
    assert len(null_splits) == 1  # all nulls share one deterministic split


def test_connected_components_nonconvergence_raises(spark):
    import pytest as _pytest

    from geoparquet_io_spark.operators.dedup import connected_components

    # path graph diameter 8 with pointer jumping converges in ~3 rounds;
    # max_iterations=1 cannot, and must raise rather than return wrong labels
    pairs = spark.createDataFrame([(i, i + 1) for i in range(8)],
                                  "id_a long, id_b long")
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, max_iterations=1)


def test_asof_null_keys_and_ts_sql_semantics(spark):
    """NULL keys/timestamps follow SQL semantics in BOTH asof variants:
    null-key rows never match each other; null-ts right rows never win;
    null-ts left rows get NULL payload but survive (LEFT)."""
    from geoparquet_io_spark.operators.asof import asof_join, asof_join_broadcast

    left = spark.createDataFrame(
        [(1, 10, "a"), (None, 10, "b"), (1, None, "c")],
        "k long, t long, tag string")
    right = spark.createDataFrame(
        [(1, 5, 50), (None, 1, 99), (1, None, 77)],
        "k long, t long, px long")
    for fn in (asof_join, asof_join_broadcast):
        rows = {r["tag"]: r["asof_px"] for r in
                fn(left, right, key="k", left_ts="t", right_ts="t",
                   right_columns=["px"]).collect()}
        assert rows == {"a": 50, "b": None, "c": None}, (fn.__name__, rows)


def test_asof_broadcast_float_ts_and_none_payload(spark):
    """Float timestamps compare in float domain (no int truncation), and
    equal-ts duplicates with None payloads must not crash the sort."""
    from geoparquet_io_spark.operators.asof import asof_join_broadcast

    left = spark.createDataFrame([(1, 10.5)], "k long, t double")
    right = spark.createDataFrame(
        [(1, 10.7, 7), (1, 9.5, 9), (1, 9.5, None)],
        "k long, t double, px long")
    out = asof_join_broadcast(left, right, key="k", left_ts="t",
                              right_ts="t", right_columns=["px"]).collect()
    # 10.7 > 10.5 must NOT match; 9.5 does (either duplicate may win)
    assert out[0]["asof_px"] in (9, None) and len(out) == 1


def test_range_join_guards(spark):
    import pytest as _pytest

    from geoparquet_io_spark.operators.asof import range_join

    pts = spark.createDataFrame([(1, 5.0)], "pid long, v double")
    iv_clash = spark.createDataFrame([(0.0, 10.0, "x")],
                                     "lo double, hi double, v string")
    with _pytest.raises(ValueError, match="collide"):
        range_join(pts, iv_clash, "v", "lo", "hi")
    with _pytest.raises(ValueError, match="positive"):
        range_join(pts, iv_clash.withColumnRenamed("v", "tag"),
                   "v", "lo", "hi", bucket_size=-1.0)
    # all-inverted intervals: defaulted bucket size must not go negative
    iv_bad = spark.createDataFrame([("a", 10.0, 0.0)],
                                   "tag string, lo double, hi double")
    assert range_join(pts, iv_bad, "v", "lo", "hi").count() == 0


def test_dedup_keep_best_prefers_score_then_id(spark):
    from geoparquet_io_spark.operators.dedup import dedup_keep_best

    rows = [(1, 0.5), (2, 0.9), (3, 0.9), (4, 0.1), (5, 0.7)]
    df = spark.createDataFrame(rows, ["id", "q"])
    # {1,2,3} one group (2 and 3 tie on score -> 2 wins), {4} with no
    # pair passes through, {5} alone in a pair group survives trivially
    pairs = spark.createDataFrame([(1, 2), (2, 3)], ["id_a", "id_b"])
    got = sorted(r["id"] for r in dedup_keep_best(df, pairs, "id", "q").collect())
    assert got == [2, 4, 5]


def test_distance_join_exact_pairs_and_no_cartesian(spark):
    import math

    from geoparquet_io_spark.operators.joins import distance_join

    left = spark.createDataFrame(
        [(1, 0.0, 0.0), (2, 10.0, 10.0), (3, -5.0, 0.1)],
        ["lid", "lx", "ly"])
    right = spark.createDataFrame(
        [(10, 0.5, 0.5), (11, 0.9, 0.0), (12, 10.05, 9.95),
         (13, 50.0, 50.0), (14, -4.2, 0.4)],
        ["rid", "rx", "ry"])
    out = distance_join(left, right, 1.0, "lx", "ly", "rx", "ry")
    pairs = {(r["lid"], r["rid"]): r["distance"] for r in out.collect()}
    expect = {}
    lpts = {1: (0, 0), 2: (10, 10), 3: (-5, 0.1)}
    rpts = {10: (0.5, 0.5), 11: (0.9, 0.0), 12: (10.05, 9.95),
            13: (50, 50), 14: (-4.2, 0.4)}
    for li, (lx, ly) in lpts.items():
        for ri, (rx, ry) in rpts.items():
            d = math.sqrt((lx - rx) ** 2 + (ly - ry) ** 2)
            if d <= 1.0:
                expect[(li, ri)] = d
    assert set(pairs) == set(expect)
    for k, v in expect.items():
        assert abs(pairs[k] - v) < 1e-12
    # each qualifying pair appears exactly once (no 3x3 double-count)
    assert len(out.collect()) == len(expect)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    import pytest as _p
    with _p.raises(ValueError):
        distance_join(left, right, 0.0, "lx", "ly", "rx", "ry")


def test_distance_join_boundary_cell_edges(spark):
    """Points exactly on cell boundaries and exactly at radius distance."""
    from geoparquet_io_spark.operators.joins import distance_join

    left = spark.createDataFrame([(1, 1.0, 1.0)], ["lid", "lx", "ly"])
    right = spark.createDataFrame(
        [(10, 2.0, 1.0), (11, 2.0001, 1.0)], ["rid", "rx", "ry"])
    out = distance_join(left, right, 1.0, "lx", "ly", "rx", "ry").collect()
    got = {r["rid"] for r in out}
    assert got == {10}   # exactly-radius kept (<=), just-beyond dropped


def test_knn_join_exact_vs_bruteforce(spark):
    import math
    import random

    from geoparquet_io_spark.operators.joins import knn_join

    rnd = random.Random(4)
    lpts = [(i, rnd.uniform(0, 20), rnd.uniform(0, 20)) for i in range(25)]
    rpts = [(100 + j, rnd.uniform(0, 20), rnd.uniform(0, 20)) for j in range(60)]
    left = spark.createDataFrame(lpts, ["lid", "lx", "ly"])
    right = spark.createDataFrame(rpts, ["rid", "rx", "ry"])
    out = knn_join(left, right, k=4, initial_radius=1.0,
                   left_id="lid", left_x="lx", left_y="ly",
                   right_x="rx", right_y="ry", tie_columns=["rid"],
                   max_rounds=3)
    got = {}
    for r in out.collect():
        got.setdefault(r["lid"], []).append((r["knn_rank"], r["rid"], r["distance"]))
    assert set(got) == {i for i, _, _ in lpts}
    for li, lx, ly in lpts:
        exp = sorted(
            (math.sqrt((lx - rx) ** 2 + (ly - ry) ** 2), rid)
            for rid, rx, ry in rpts)[:4]
        mine = sorted(got[li])
        assert [m[1] for m in mine] == [e[1] for e in exp], li
        for (rank, rid, d), (ed, erid) in zip(mine, exp):
            assert abs(d - ed) < 1e-12


def test_knn_join_chunked_straggler_brute_exact(spark, monkeypatch):
    """At the 500k straggler-collect cap the brute's per-partition
    running reduce (~|stragglers| x k rows x |out cols| of pandas state)
    is a worker memory cliff; stragglers are chunked into multiple brute
    passes.  Force multi-chunk with a tiny state budget and verify the
    result is still the exact top-k."""
    import math
    import random

    from geoparquet_io_spark.operators import joins

    # force chunk size 30: 70 stragglers -> 3 brute passes
    monkeypatch.setattr(joins, "_brute_chunk_size", lambda k, n: 30)
    calls = []
    orig = joins._knn_brute_pairs

    def spy(rows, *a, **kw):
        calls.append(len(rows))
        return orig(rows, *a, **kw)

    monkeypatch.setattr(joins, "_knn_brute_pairs", spy)
    rnd = random.Random(11)
    lpts = [(i, rnd.uniform(0, 1), rnd.uniform(0, 1)) for i in range(70)]
    rpts = [(100 + j, 500 + rnd.uniform(0, 1), 500 + rnd.uniform(0, 1))
            for j in range(100)]
    left = spark.createDataFrame(lpts, ["lid", "lx", "ly"])
    right = spark.createDataFrame(rpts, ["rid", "rx", "ry"])
    out = joins.knn_join(left, right, k=3, initial_radius=0.1,
                         left_id="lid", left_x="lx", left_y="ly",
                         right_x="rx", right_y="ry", tie_columns=["rid"],
                         max_rounds=1)
    got = {}
    for r in out.collect():
        got.setdefault(r["lid"], []).append((r["knn_rank"], r["rid"], r["distance"]))
    assert set(got) == {i for i, _, _ in lpts}
    for li, lx, ly in lpts:
        exp = sorted(
            (math.sqrt((lx - rx) ** 2 + (ly - ry) ** 2), rid)
            for rid, rx, ry in rpts)[:3]
        mine = sorted(got[li])
        assert [m[1] for m in mine] == [e[1] for e in exp], li
        for (rank, rid, d), (ed, erid) in zip(mine, exp):
            assert abs(d - ed) < 1e-12
    # 70 stragglers at chunk 30 -> 3 passes covering every query once
    assert calls == [30, 30, 10]


def test_knn_join_sparse_fallback_and_k_larger_than_right(spark):
    from geoparquet_io_spark.operators.joins import knn_join

    # right side far away: rounds never resolve -> brute fallback
    left = spark.createDataFrame([(1, 0.0, 0.0)], ["lid", "lx", "ly"])
    right = spark.createDataFrame(
        [(10, 500.0, 500.0), (11, 600.0, 600.0)], ["rid", "rx", "ry"])
    out = knn_join(left, right, k=2, initial_radius=0.5,
                   left_id="lid", left_x="lx", left_y="ly",
                   right_x="rx", right_y="ry", tie_columns=["rid"],
                   max_rounds=2).collect()
    assert sorted(r["rid"] for r in out) == [10, 11]
    assert [r["rid"] for r in sorted(out, key=lambda r: r["knn_rank"])] == [10, 11]


def test_knn_join_default_colliding_names_and_null_coords(spark):
    """Regression: the DEFAULT signature (lon/lat on both sides) used to
    raise AMBIGUOUS_REFERENCE in the tie-break window; colliding right
    columns now auto-rename to right_<name>.  Null-coordinate right
    rows are dropped — the brute fallback's nulls-first ordering used
    to rank them as rank-1 'neighbors'."""
    from geoparquet_io_spark.operators.joins import knn_join

    left = spark.createDataFrame([(1, 0.0, 0.0), (2, 10.0, 10.0)],
                                 ["lid", "lon", "lat"])
    right = spark.createDataFrame(
        [(100, 0.1, 0.0), (101, 0.2, 0.0), (102, None, None),
         (103, 10.1, 10.0), (104, 10.3, 10.0)],
        "rid long, lon double, lat double")
    out = knn_join(left, right, k=2, initial_radius=1.0,
                   left_id="lid", tie_columns=["rid"])
    rows = out.collect()
    assert "right_lon" in out.columns and "right_lat" in out.columns
    got = {}
    for r in rows:
        got.setdefault(r["lid"], []).append((r["knn_rank"], r["rid"]))
    assert sorted(got[1]) == [(1, 100), (2, 101)]
    assert sorted(got[2]) == [(1, 103), (2, 104)]
    # null-coord right row never appears
    assert all(r["rid"] != 102 for r in rows)
    # brute fallback path with nulls: far right side forces it
    far = spark.createDataFrame(
        [(10, 500.0, 500.0), (11, None, None)],
        "rid long, lon double, lat double")
    out2 = knn_join(left.filter("lid = 1"), far, k=1, initial_radius=0.5,
                    left_id="lid", tie_columns=["rid"], max_rounds=1)
    assert [r["rid"] for r in out2.collect()] == [10]


def test_spatial_join_null_right_geometry_and_name_clash(spark):
    """Regression: a NULL geometry on the broadcast right side crashed
    the driver collect; and a right_columns name already on the left
    now raises instead of corrupting the batch schema."""
    import pytest
    from pyspark.sql import Row

    from geoparquet_io_spark.functions import wkb as W
    from geoparquet_io_spark.operators.joins import spatial_join

    left = spark.createDataFrame(
        [Row(id=1, geometry=bytearray(W.encode_point(0.5, 0.5)))])
    box = W.encode_polygon([__import__("numpy").array(
        [[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 1.0], [0.0, 0.0]])])
    right = spark.createDataFrame(
        [Row(zone="a", geometry=bytearray(box)),
         Row(zone="b", geometry=None)])
    out = spatial_join(left, "geometry", None, right, "geometry", None,
                       ["zone"], how="left").collect()
    assert len(out) == 1 and out[0]["zone"] == "a"

    clash_right = right.withColumnRenamed("zone", "id")
    with pytest.raises(ValueError, match="already exist on the left"):
        spatial_join(left, "geometry", None, clash_right, "geometry",
                     None, ["id"], how="left")


def test_grid_join_wide_cell_indices_no_collision(spark):
    """Regression: the 21-bit cell pack collided past |index| ~1e6
    (metre-scale cells over projected northings), emitting duplicate
    join rows through spurious reference-cell matches; the 31-bit pack
    must keep far-apart geometries apart."""
    import numpy as np
    from pyspark.sql import Row

    from geoparquet_io_spark.functions import wkb as W
    from geoparquet_io_spark.operators.joins import grid_spatial_join

    def sq(x0, y0):
        return W.encode_polygon([np.array(
            [[x0, y0], [x0 + 1, y0], [x0 + 1, y0 + 1],
             [x0, y0 + 1], [x0, y0]])])

    # two pairs ~4.4e6 apart in y: with 21-bit packing their cells
    # aliased ((y/1) diff = multiple of 2^21 would collide; use one)
    dy = float(1 << 21)
    left = spark.createDataFrame(
        [Row(id=1, geometry=bytearray(sq(0.0, 0.0))),
         Row(id=2, geometry=bytearray(sq(0.0, dy)))])
    right = spark.createDataFrame(
        [Row(tag="lo", geometry=bytearray(sq(0.5, 0.5))),
         Row(tag="hi", geometry=bytearray(sq(0.5, dy + 0.5)))])
    out = grid_spatial_join(left, "geometry", right, "geometry",
                            ["tag"], cell_size=1.0)
    got = sorted((r["id"], r["tag"]) for r in out.collect())
    assert got == [(1, "lo"), (2, "hi")]      # no cross-matches, no dups


def test_knn_join_radius_tiers_duplicated_sites_exact(spark):
    """r11 regression: heavily DUPLICATED right coordinates (snapped /
    lattice data — the 100x receipt holds ~900 duplicates per site)
    exercise all three r11 pieces at once: site pruning (k best-by-tie
    rows per distinct position, result-identical by dominance), the
    duplication-aware density ladder (a point-density disc reached no
    site at all), and the vectorized straggler brute with k-th-distance
    tie retention.  Output must match the classic path AND a numpy
    brute mirror exactly, including rank order among same-site ties."""
    import math

    from geoparquet_io_spark.operators.joins import knn_join

    # 12 distinct sites on a coarse lattice, 40 duplicate points each
    # (distinct rid per duplicate -> tie-break must pick SMALLEST rid),
    # plus a handful of far-away singleton sites
    rpts = []
    rid = 0
    for sx in range(4):
        for sy in range(3):
            for _ in range(40):
                rpts.append((rid, float(sx), float(sy)))
                rid += 1
    for j in range(5):
        rpts.append((10_000 + j, 100.0 + 7.0 * j, -50.0))
    lpts = [(1, 0.2, 0.1), (2, 3.9, 2.8), (3, 1.5, 1.5),
            (4, 101.0, -49.5), (5, 0.0, 0.0)]   # 5 sits ON a site
    left = spark.createDataFrame(lpts, ["lid", "lx", "ly"])
    right = spark.createDataFrame(rpts, ["rid", "rx", "ry"])
    kw = dict(k=4, initial_radius=0.05, left_id="lid",
              left_x="lx", left_y="ly", right_x="rx", right_y="ry",
              tie_columns=["rid"], max_rounds=6)
    tiered = knn_join(left, right, radius_tiers=True, **kw)
    classic = knn_join(left, right, **kw)

    def key(df):
        return sorted((r["lid"], r["knn_rank"], r["rid"],
                       round(r["distance"], 12)) for r in df.collect())

    got_t = key(tiered)
    assert got_t == key(classic)
    want = []
    for li, lx, ly in lpts:
        exp = sorted((math.sqrt((lx - rx) ** 2 + (ly - ry) ** 2), rr)
                     for rr, rx, ry in rpts)[:4]
        want += [(li, rk + 1, rr, round(d, 12))
                 for rk, (d, rr) in enumerate(exp)]
    assert got_t == sorted(want)
    # same-site ties resolved to the SMALLEST rids: query 5 sits on
    # site (0,0) whose duplicates are rids 0..39 -> ranks 1-4 = 0,1,2,3
    q5 = sorted((r["knn_rank"], r["rid"]) for r in
                tiered.filter(F.col("lid") == 5).collect())
    assert q5 == [(1, 0), (2, 1), (3, 2), (4, 3)]


def test_knn_join_radius_tiers_identical_on_clustered(spark):
    """radius_tiers=True is a PLAN change, not a semantics change: on a
    clustered layout (90% of the right side in one clump + sparse
    remainder — the shape where tier estimates actually differ per
    point) the tiered output must match both the classic doubling
    ladder and a brute-force mirror exactly, including tie-break
    order."""
    import math
    import random

    from geoparquet_io_spark.operators.joins import knn_join

    rnd = random.Random(10)
    rpts = [(100 + j, rnd.uniform(0.0, 1.0), rnd.uniform(0.0, 1.0))
            for j in range(90)]                       # dense clump
    rpts += [(200 + j, rnd.uniform(-50.0, 50.0), rnd.uniform(-50.0, 50.0))
             for j in range(10)]                      # sparse remainder
    lpts = [(i, rnd.uniform(0.0, 1.0), rnd.uniform(0.0, 1.0))
            for i in range(15)]
    lpts += [(50 + i, rnd.uniform(-50.0, 50.0), rnd.uniform(-50.0, 50.0))
             for i in range(5)]
    left = spark.createDataFrame(lpts, ["lid", "lx", "ly"])
    right = spark.createDataFrame(rpts, ["rid", "rx", "ry"])
    kw = dict(k=3, initial_radius=0.05, left_id="lid",
              left_x="lx", left_y="ly", right_x="rx", right_y="ry",
              tie_columns=["rid"], max_rounds=6)
    tiered = knn_join(left, right, radius_tiers=True, **kw)
    classic = knn_join(left, right, **kw)

    def key(df):
        return sorted((r["lid"], r["knn_rank"], r["rid"],
                       round(r["distance"], 12)) for r in df.collect())

    got_t, got_c = key(tiered), key(classic)
    assert got_t == got_c
    want = []
    for li, lx, ly in lpts:
        exp = sorted((math.sqrt((lx - rx) ** 2 + (ly - ry) ** 2), rid)
                     for rid, rx, ry in rpts)[:3]
        want += [(li, rank + 1, rid, round(d, 12))
                 for rank, (d, rid) in enumerate(exp)]
    assert got_t == sorted(want)


def test_estimate_knn_radius_density_quantile_point_weighted(spark):
    """The dense-quantile radius must reflect the density a typical
    POINT sees, not a typical CELL: with 90% of points in one tiny
    clump and singletons elsewhere, the p90 point lives in the clump,
    so the radius must shrink far below the uniform-model radius (a
    cell-weighted quantile returns the uniform radius right back — the
    r10 regression this pins)."""
    from geoparquet_io_spark.operators.joins import estimate_knn_radius

    pts = [(i, (i * 131 % 100) / 1000.0, (i * 197 % 100) / 1000.0)
           for i in range(900)]                       # clump in 0.1x0.1
    pts += [(1000 + i, float(10 * (i % 10)) + 5.0, float(10 * (i // 10)) + 5.0)
            for i in range(100)]                      # spread singletons
    df = spark.createDataFrame(pts, ["rid", "rx", "ry"])
    r_uni = estimate_knn_radius(df, k=3, right_x="rx", right_y="ry")
    r_dense = estimate_knn_radius(df, k=3, right_x="rx", right_y="ry",
                                  density_quantile=0.9)
    assert r_dense < r_uni / 10.0
    # quantile 1.0 = the DENSEST cell's occupancy (the point-weighted
    # histogram accumulates sparsest->densest); the result is still
    # min'd with the uniform radius, so it can never exceed uniform
    r_all = estimate_knn_radius(df, k=3, right_x="rx", right_y="ry",
                                density_quantile=1.0)
    assert r_all <= r_uni + 1e-12

    import pytest as _p
    with _p.raises(ValueError):
        estimate_knn_radius(df, k=3, right_x="rx", right_y="ry",
                            density_quantile=1.5)


def test_estimate_knn_radius_uniform_density(spark):
    import math

    from geoparquet_io_spark.operators.joins import estimate_knn_radius

    # 10x10 box, 400 points -> r = sqrt(2*4*100/(pi*400)) ~ 0.798
    pts = [(i, (i % 20) * 0.5 + 0.25, (i // 20) * 0.5 + 0.25)
           for i in range(400)]
    df = spark.createDataFrame(pts, ["rid", "rx", "ry"])
    r = estimate_knn_radius(df, k=4, right_x="rx", right_y="ry")
    expected = math.sqrt(2 * 4 * ((9.75 - 0.25) ** 2) / (math.pi * 400))
    assert abs(r - expected) < 1e-9

    import pytest as _p
    with _p.raises(ValueError):
        estimate_knn_radius(df.filter("rid < 0"), k=3, right_x="rx", right_y="ry")


def test_simhash_pairs_pigeonhole_completeness(spark):
    """Every pair within hamming <= 3 must be found (band equi-join is
    lossless by pigeonhole); verified against a brute-force mirror."""
    from geoparquet_io_spark.operators.dedup import (add_simhash,
                                                     simhash_candidate_pairs)

    rows = [(i, ("alpha beta gamma delta epsilon zeta " * 3) +
             ("x" * (i % 4)) ) for i in range(24)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    sigs = {r["doc_id"]: r["simhash"]
            for r in add_simhash(df, id_column="doc_id")
            .select("doc_id", "simhash").collect()}
    expected = set()
    ids = sorted(sigs)
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            h = bin(sigs[ids[i]] ^ sigs[ids[j]]).count("1")
            if h <= 3:
                expected.add((ids[i], ids[j], h))
    got = {(r["id_a"], r["id_b"], r["hamming"])
           for r in simhash_candidate_pairs(df, "doc_id").collect()}
    assert got == expected and len(expected) > 0

    import pytest as _p
    with _p.raises(ValueError):
        simhash_candidate_pairs(df, "doc_id", max_hamming=4)


def test_simhash_hot_bucket_cap_bounds_pairs_keeps_connectivity(spark):
    """A hot bucket (boilerplate mass of identical docs) past
    max_bucket_size must emit a predecessor CHAIN, not m(m-1)/2 pairs
    (the r8 100x curve blew >79 GB of shuffle at 500k docs without the
    cap): output edges are O(m), every member stays connected, and the
    literal all-pairs contract survives via max_bucket_size=None."""
    from geoparquet_io_spark.operators.dedup import simhash_candidate_pairs

    m = 40
    rows = [(i, "identical boilerplate text repeated for every doc") for i
            in range(m)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    capped = simhash_candidate_pairs(df, "doc_id",
                                     max_bucket_size=8).collect()
    # identical docs -> identical sigs -> hamming 0 on every edge; chain
    # emits m-1 edges per band, distinct() collapses bands -> m-1 total
    assert len(capped) == m - 1
    assert all(r["hamming"] == 0 for r in capped)
    # connectivity: union-find over the chain reaches every doc
    parent = list(range(m))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in capped:
        parent[find(r["id_a"])] = find(r["id_b"])
    assert len({find(i) for i in range(m)}) == 1
    # literal contract still available
    full = simhash_candidate_pairs(df, "doc_id",
                                   max_bucket_size=None).count()
    assert full == m * (m - 1) // 2


def test_simhash_hot_bucket_finds_far_apart_identical_pair(spark):
    """In a hot bucket of DIVERSE signatures, two identical docs at
    far-apart ids must still pair (r8 review): a plain id-ordered chain
    interleaved different signatures between them and the in-between
    edges failed hamming — the signature-granular hot path (hamming-0
    chains + min-id representative pairs) keeps the guarantee."""
    from geoparquet_io_spark.operators.dedup import (
        add_simhash, simhash_candidate_pairs)

    # diverse filler docs + one identical pair at ids 3 and 9000
    rows = [(i, f"filler doc number {i} with words {i * 7} {i * 13} "
                f"and tail {i % 17} {i % 23} {i % 29}")
            for i in range(0, 60)]
    dup = "the exact same duplicated document text appears here twice"
    rows += [(3000, dup), (9000, dup)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {(r["id_a"], r["id_b"]): r["hamming"]
           for r in simhash_candidate_pairs(df, "doc_id",
                                            max_bucket_size=4).collect()}
    assert got.get((3000, 9000)) == 0
    # and every hamming<=3 pair of the LITERAL contract stays reachable
    # at the survivor level: brute-force the expected survivor set
    sigs = {r["doc_id"]: r["simhash"]
            for r in add_simhash(df, id_column="doc_id")
            .select("doc_id", "simhash").collect()}
    ids = sorted(sigs)
    expected_lost = {j for j in ids
                     for i in ids if i < j
                     and bin(sigs[i] ^ sigs[j]).count("1") <= 3}
    # union-find over capped pairs: every expected-lost id must connect
    # to some smaller id
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for (a, b), _h in got.items():
        parent[find(a)] = find(b)
    comp_min = {}
    for i in ids:
        r = find(i)
        comp_min[r] = min(comp_min.get(r, i), i)
    lost_by_cap = {i for i in ids if comp_min[find(i)] < i}
    assert expected_lost <= lost_by_cap


def test_dedup_against_index_drops_only_colliders(spark):
    from pyspark.sql import functions as F

    from geoparquet_io_spark.operators.dedup import (dedup_against_index,
                                                     minhash_bands)

    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today"),
         (2, "completely different corpus text about spark shuffles")],
        ["id", "text"])
    new = spark.createDataFrame(
        [(10, "the quick brown fox jumps over the lazy dog today"),   # dup of 1
         (11, "zebra xylophone quartz vivid jigsaw plumbing keynote")],
        ["id", "text"])
    idx = minhash_bands(corpus, num_hashes=8, bands=4, k=5, id_column="id")
    out = dedup_against_index(new, idx, "id", num_hashes=8, bands=4, k=5)
    assert [r["id"] for r in out.collect()] == [11]


# -- star-edge LSH candidates (bounded volume on boilerplate clusters) ------

def _clone_corpus(spark, n_orig=12, clones=25):
    """n_orig distinct documents, each repeated `clones` times with a
    tiny per-copy suffix: the adversarial boilerplate-cluster shape."""
    import random

    rng = random.Random(7)
    rows = []
    did = 0
    for o in range(n_orig):
        base = " ".join(
            rng.choice(["alpha", "beta", "gamma", "delta", "epsilon",
                        "zeta", "eta", "theta"]) for _ in range(40))
        for c in range(clones):
            rows.append((did, base + f" c{c}"))
            did += 1
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_minhash_star_edges_match_allpairs_survivors(spark):
    from geoparquet_io_spark.operators.dedup import dedup_minhash

    df = _clone_corpus(spark)
    star = dedup_minhash(df, "doc_id", "text", num_hashes=8, bands=4,
                         k=5, pair_mode="star")
    allp = dedup_minhash(df, "doc_id", "text", num_hashes=8, bands=4,
                         k=5, pair_mode="pairs")
    assert sorted(r.doc_id for r in star.collect()) == \
        sorted(r.doc_id for r in allp.collect())


def test_minhash_star_edges_volume_bounded(spark):
    from geoparquet_io_spark.operators.dedup import (
        minhash_candidate_pairs, minhash_star_edges,
    )

    df = _clone_corpus(spark, n_orig=4, clones=40)   # 160 docs, 4 masses
    n = df.count()
    bands = 4
    stars = minhash_star_edges(df, "doc_id", "text", 8, bands, 5)
    n_star = stars.count()
    n_pairs = minhash_candidate_pairs(df, "doc_id", "text", 8, bands, 5) \
        .count()
    # star: at most one edge per (row, band) after distinct —
    # linear; all-pairs: quadratic in the cluster masses
    assert n_star <= n * bands
    assert n_pairs > 4 * n_star  # the blowup star form avoids
    # edges keep id_a < id_b
    assert stars.filter("id_a >= id_b").count() == 0


def test_minhash_star_edges_components_equal_allpairs(spark):
    from geoparquet_io_spark.operators.dedup import (
        connected_components, minhash_candidate_pairs, minhash_star_edges,
    )

    df = _clone_corpus(spark, n_orig=6, clones=8)

    def groups(pairs):
        cc = connected_components(pairs, id_a="id_a", id_b="id_b")
        lab = {r[0]: r[1] for r in cc.collect()}
        by = {}
        for node, lbl in lab.items():
            by.setdefault(lbl, set()).add(node)
        return {frozenset(g) for g in by.values()}

    g_star = groups(minhash_star_edges(df, "doc_id", "text", 8, 4, 5))
    g_all = groups(minhash_candidate_pairs(df, "doc_id", "text", 8, 4, 5))
    assert g_star == g_all


def test_minhash_pairs_hot_bucket_cap(spark):
    """Adversarial boilerplate corpus: masses far above max_bucket_size
    must emit a LINEAR predecessor chain, not m(m-1)/2 pairs — while
    transitive groups and survivors stay identical to the uncapped
    all-pairs form (the 10x-corpus quadratic from SCALING.md, guarded)."""
    from geoparquet_io_spark.operators.dedup import (
        connected_components, dedup_minhash, minhash_candidate_pairs,
    )

    df = _clone_corpus(spark, n_orig=3, clones=50)   # 150 docs, 3 masses
    n = df.count()
    bands = 4
    capped = minhash_candidate_pairs(df, "doc_id", "text", 8, bands, 5,
                                     max_bucket_size=16)
    uncapped = minhash_candidate_pairs(df, "doc_id", "text", 8, bands, 5,
                                       max_bucket_size=None)
    n_capped, n_uncapped = capped.count(), uncapped.count()
    # chain: <= m-1 edges per hot bucket -> <= n*bands total after distinct
    assert n_capped <= n * bands
    assert n_uncapped > 4 * n_capped          # ~50*49/2 vs ~49 per mass
    assert capped.filter("id_a >= id_b").count() == 0

    def groups(pairs):
        cc = connected_components(pairs, id_a="id_a", id_b="id_b")
        by = {}
        for node, lbl in ((r[0], r[1]) for r in cc.collect()):
            by.setdefault(lbl, set()).add(node)
        return {frozenset(g) for g in by.values()}

    assert groups(capped) == groups(uncapped)
    # survivor rule through dedup_minhash's pairs path is also unchanged
    surv_c = dedup_minhash(df, "doc_id", "text", 8, bands, 5,
                           pair_mode="pairs")
    surv_u = df.join(
        uncapped.select(F.col("id_b").alias("doc_id")).distinct(),
        "doc_id", "left_anti")
    assert sorted(r.doc_id for r in surv_c.collect()) == \
        sorted(r.doc_id for r in surv_u.collect())


# -- distinct-signature hamming dedup ---------------------------------------

def test_dedup_simhash_matches_bruteforce(spark):
    from geoparquet_io_spark.operators.dedup import add_simhash, dedup_simhash

    df = _clone_corpus(spark, n_orig=10, clones=6)
    sigs = {r.doc_id: r.simhash for r in
            add_simhash(df, id_column="doc_id")
            .select("doc_id", "simhash").collect()}
    brute = [i for i in sorted(sigs)
             if not any(j < i and bin(sigs[j] ^ sigs[i]).count("1") <= 3
                        for j in sigs)]
    got = sorted(r.doc_id for r in dedup_simhash(df, "doc_id").collect())
    assert got == brute


def test_hamming_survivors_collapse_identical_signatures(spark):
    from geoparquet_io_spark.operators.dedup import hamming_dedup_survivors

    # 3 signature groups: 0b0 (ids 0-99), 0b1 (100, hamming 1 from 0),
    # 0xF0F0 (200, far from both)
    rows = [(i, 0) for i in range(100)] + [(100, 1)] + [(200, 0xF0F0)]
    sigs = spark.createDataFrame(rows, ["id", "sig"])
    keep = sorted(r.id for r in hamming_dedup_survivors(
        sigs, "id", "sig", max_hamming=3).collect())
    # id 0 survives its group; 100 is within hamming 1 of the smaller 0;
    # 200 is its own neighborhood
    assert keep == [0, 200]


def test_dedup_images_by_dhash(spark):
    import numpy as np

    from geoparquet_io_spark.operators.multimodal import dedup_images
    from tests.test_multimodal import _make_bmp

    rng = np.random.default_rng(3)
    base = rng.integers(0, 255, size=(16, 16, 3), dtype=np.uint8)
    other = rng.integers(0, 255, size=(16, 16, 3), dtype=np.uint8)
    rows = []
    for i in range(8):          # 8 byte-identical copies of `base`
        rows.append((i, bytearray(_make_bmp(16, 16, base))))
    rows.append((50, bytearray(_make_bmp(16, 16, other))))
    df = spark.createDataFrame(rows, ["img_id", "data"])
    kept = sorted(r.img_id for r in dedup_images(df, "img_id").collect())
    assert kept == [0, 50]


def test_empty_dataset_sorts_and_kdtree(spark):
    """Sorting / kd-tree partitioning a zero-row (or all-null-geometry)
    table must be a no-op, not a TypeError from None bounds."""
    from geoparquet_io_spark.operators.add_columns import add_kdtree
    from geoparquet_io_spark.operators.sorts import sort_hilbert, sort_zorder
    from geoparquet_io_spark.queries import _events_points

    gt = _events_points(spark, SF_SMOKE)
    empty = gt.extract(where="event_id < 0")
    assert sort_hilbert(empty.df, gt.geometry_column, None).count() == 0
    assert sort_zorder(empty.df, gt.geometry_column, None).count() == 0
    out = add_kdtree(empty.df, gt.geometry_column, None, iterations=3)
    assert out.count() == 0


def test_kdtree_unseen_prefix_gets_cell(spark):
    """Rows whose boundary-tree prefix never appeared in the phase-1
    sample must still get a FULL-DEPTH cell id, never NULL."""
    from geoparquet_io_spark.operators.add_columns import add_kdtree

    rows = [(float(1.0), float(1.0))] * 999 + [(0.0, 0.0)]
    df = spark.createDataFrame(rows, "x double, y double")
    out = add_kdtree(df, x_column="x", y_column="y", iterations=4,
                     sample_rows=50)
    cells = out.select("kdtree_cell").collect()
    assert all(r["kdtree_cell"] is not None for r in cells)
    assert all(len(r["kdtree_cell"]) == 4 for r in cells)


def test_kdtree_driver_and_distributed_phase1_agree(spark):
    """Phase 1 has two implementations (r11): a driver-side numpy
    recursion when the median input is bounded, and the per-level
    distributed percentile loop for exact=True beyond the driver bound.
    Same data through both must produce identical cell assignments —
    including NULL rows (median-excluded, split to '1') and NaN rows
    (median-included as the largest value, split to '1')."""
    import math

    from geoparquet_io_spark.operators.add_columns import add_kdtree

    rows = [(i, float((i * 37) % 101), float((i * 59) % 89))
            for i in range(400)]
    rows += [(1000, None, 5.0), (1001, 3.0, None),
             (1002, math.nan, math.nan), (1003, math.nan, 7.0)]
    df = spark.createDataFrame(rows, "id long, x double, y double")
    kw = dict(x_column="x", y_column="y", iterations=3)
    # exact + sample_rows below row count -> distributed loop;
    # exact + default sample_rows -> bounded driver-side recursion
    dist = add_kdtree(df, exact=True, sample_rows=10, **kw)
    drv = add_kdtree(df, exact=True, **kw)
    a = {r["id"]: r["kdtree_cell"] for r in dist.collect()}
    b = {r["id"]: r["kdtree_cell"] for r in drv.collect()}
    assert a == b
    assert len({v for v in b.values()}) > 1        # tree actually split
    assert all(len(v) == 3 for v in b.values())


def test_kdtree_nan_median_parity(spark):
    """When >= half a cell's sampled values on the split axis are NaN the
    interpolated median itself is NaN.  Spark's `x < lit(NaN)` is TRUE
    for every finite x (NaN is the largest double) while numpy `x < NaN`
    is all-False — the driver-side phase 1 must replicate SPARK's split
    (finite -> '0', NaN/NULL -> '1') or its learned deeper boundaries sit
    under prefixes phase 2 never routes rows to."""
    import math

    from geoparquet_io_spark.operators.add_columns import add_kdtree

    rows = [(i, math.nan, float(i)) for i in range(10)]          # NaN x
    rows += [(100 + i, float(i * 7 % 13), float(50 + i)) for i in range(8)]
    df = spark.createDataFrame(rows, "id long, x double, y double")
    kw = dict(x_column="x", y_column="y", iterations=2)
    dist = add_kdtree(df, exact=True, sample_rows=5, **kw)   # distributed
    drv = add_kdtree(df, exact=True, **kw)                   # driver numpy
    a = {r["id"]: r["kdtree_cell"] for r in dist.collect()}
    b = {r["id"]: r["kdtree_cell"] for r in drv.collect()}
    assert a == b
    # Spark semantics: finite x < NaN median -> left ('0...'), NaN -> '1...'
    assert all(b[100 + i].startswith("0") for i in range(8))
    assert all(b[i].startswith("1") for i in range(10))
    assert all(len(v) == 2 for v in b.values())


def test_zorder_by_date_and_timestamp_columns(spark):
    from geoparquet_io_spark.operators.sorts import zorder_by

    df = spark.createDataFrame(
        [(1, "2023-01-05", "2023-01-05 10:00:00"),
         (2, "2021-06-01", "2021-06-01 09:00:00"),
         (3, "2022-03-15", "2022-03-15 08:00:00")],
        "id long, d string, t string"
    ).selectExpr("id", "CAST(d AS date) AS d", "CAST(t AS timestamp) AS t")
    for method in ("linear", "range"):
        out = zorder_by(df, ["d", "t"], method=method)
        assert out.count() == 3           # no AnalysisException


def test_asof_broadcast_date_type_columns(spark):
    """DateType timestamps arrive in pandas as OBJECT dtype of
    datetime.date — the broadcast variant must handle them like
    asof_join does."""
    from geoparquet_io_spark.operators.asof import asof_join, asof_join_broadcast

    left = spark.createDataFrame(
        [(1, "2023-05-10"), (1, "2023-01-01")], "k long, d string"
    ).selectExpr("k", "CAST(d AS date) AS ts")
    right = spark.createDataFrame(
        [(1, "2023-03-01", 7), (1, "2023-06-01", 9)],
        "k long, d string, px long"
    ).selectExpr("k", "CAST(d AS date) AS ts", "px")
    expect = {tuple(sorted((r["ts"].isoformat(), str(r["asof_px"]))))
              for r in asof_join(left, right, key="k").collect()}
    got = {tuple(sorted((r["ts"].isoformat(), str(r["asof_px"]))))
           for r in asof_join_broadcast(left, right, key="k").collect()}
    assert got == expect
    # mixed time families fail fast instead of silently never matching
    import pytest as _p
    num_left = spark.createDataFrame([(1, 10.0)], "k long, ts double")
    with _p.raises(ValueError, match="time family"):
        asof_join_broadcast(num_left, right, key="k")


def test_range_join_left_null_point_id_not_duplicated(spark):
    from geoparquet_io_spark.operators.asof import range_join

    pts = spark.createDataFrame([(None, 5.0), (1, 50.0)],
                                "pid long, v double")
    iv = spark.createDataFrame([(0.0, 10.0, "a")],
                               "lo double, hi double, tag string")
    out = range_join(pts, iv, "v", "lo", "hi", how="left",
                     point_id="pid").collect()
    assert len(out) == 2                       # one row per point
    by_v = {r["v"]: r["tag"] for r in out}
    assert by_v[5.0] == "a" and by_v[50.0] is None


def test_salted_join_contract(spark):
    import pytest as _p

    from geoparquet_io_spark.operators.skew import salted_join

    big = spark.createDataFrame([(1, "x")] * 10, "k long, v string")
    small = spark.createDataFrame([(1, "dim")], "k long, d string")
    out = salted_join(big, small, "k", salt=4)
    assert out.count() == 10
    with _p.raises(ValueError, match="right/full"):
        salted_join(big, small, "k", how="full")
    with _p.raises(ValueError, match="__salt"):
        salted_join(big.withColumn("__salt", F.lit(1)), small, "k")


def test_classifier_null_handling(spark):
    import pytest as _p

    from geoparquet_io_spark.operators.classifier import (
        linear_classifier_score,
        linear_classifier_train,
    )

    clean = [(float(i % 2), float(i % 2)) for i in range(20)]
    df = spark.createDataFrame(clean, "x double, label double")
    w_clean = linear_classifier_train(df, ["x"], "label", iterations=2)
    dirty = spark.createDataFrame(
        clean + [(None, 1.0), (0.5, None)], "x double, label double")
    w_dirty = linear_classifier_train(dirty, ["x"], "label", iterations=2)
    assert w_clean == w_dirty               # null rows carry no gradient
    empty = spark.createDataFrame([], "x double, label double")
    with _p.raises(ValueError, match="no trainable rows"):
        linear_classifier_train(empty, ["x"], "label")
    with _p.raises(ValueError, match="weights"):
        linear_classifier_score(df, [0.3], ["x", "x"]).collect()


def test_merge_null_keys_fail_loud(spark):
    import pytest as _p

    from geoparquet_io_spark.operators.merge import (
        dataset_diff,
        merge_upsert,
        scd2_apply,
    )

    base = spark.createDataFrame([(None, 1)], "k long, v long")
    ch = spark.createDataFrame([(None, 2, "U")], "k long, v long, op string")
    with _p.raises(Exception, match="NULL merge key"):
        merge_upsert(base, ch, "k").collect()
    o = spark.createDataFrame([(None, 1)], "k long, v long")
    with _p.raises(Exception, match="NULL merge key"):
        dataset_diff(o, o, "k").collect()
    dim = spark.createDataFrame(
        [(1, "a", "2020-01-01", None)],
        "k long, attr string, valid_from string, valid_to string")
    bad = spark.createDataFrame([(1, "b", None)],
                                "k long, attr string, effective_ts string")
    with _p.raises(Exception, match="effective"):
        scd2_apply(dim, bad, "k", ["attr"]).collect()


def test_partition_quadkey_resolution_contract(spark):
    import pytest as _p

    from geoparquet_io_spark.operators.partition import partition_by_quadkey
    from geoparquet_io_spark.queries import _events_points

    gt = _events_points(spark, SF_SMOKE)
    with _p.raises(ValueError, match="exceeds"):
        partition_by_quadkey(gt, "/tmp/nope", partition_resolution=9,
                             column_resolution=5)


def test_partition_admin_analyzes_full_level_tuple(spark, tmp_path):
    """Multi-level admin writes must guardrail on the FULL tuple, not
    just levels[0] — country x region explodes the directory count."""
    from geoparquet_io_spark.operators.stats import analyze_partition_strategy

    df = spark.createDataFrame(
        [(i % 3, i) for i in range(3000)], "a long, b long")
    one = analyze_partition_strategy(df, "a")
    both = analyze_partition_strategy(df, F.struct("a", "b"))
    assert not one.errors            # 3 x 1000-row partitions: fine
    assert both.errors               # 3000 singleton partitions: flagged


def test_extract_antimeridian_bbox_raises(spark):
    import pytest as _p

    from geoparquet_io_spark.queries import _events_points

    gt = _events_points(spark, SF_SMOKE)
    with _p.raises(ValueError, match="antimeridian"):
        gt.extract(bbox=(170.0, -10.0, -170.0, 10.0))
    with _p.raises(ValueError, match="ymin"):
        gt.extract(bbox=(0.0, 10.0, 10.0, -10.0))


def test_dedup_simhash_preserves_shingleless_rows(spark):
    """Rows whose text has no shingles (len < k or NULL) duplicate
    nothing and must SURVIVE dedup_simhash — the left_semi on the keep
    set silently deleted every short document (r8 review), unlike
    dedup_minhash's anti-join shape."""
    from geoparquet_io_spark.operators.dedup import dedup_simhash

    dup = "the very same document body appears in this corpus twice over"
    rows = [(1, dup), (2, dup), (3, "abc"), (4, None), (5, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kept = {r["doc_id"] for r in dedup_simhash(df, "doc_id").collect()}
    assert kept == {1, 3, 4, 5}        # only the later duplicate dropped


def test_word_ngrams_blank_text_yields_empty(spark):
    """Blank/whitespace-only text must give an EMPTY n-gram array at
    every n — F.split('') returns [''], which at n=1 made every blank
    doc a jaccard-1.0 match of every other blank doc (r8 review)."""
    from geoparquet_io_spark.operators.dedup import word_ngrams

    df = spark.createDataFrame(
        [("",), ("   ",), ("one two",)], "text string")
    for n in (1, 2):
        out = [r["g"] for r in
               df.select(word_ngrams(F.col("text"), n).alias("g")).collect()]
        assert out[0] == [] and out[1] == []
        assert len(out[2]) == (2 if n == 1 else 1)


def test_dedup_exact_rejects_explicit_empty_columns(spark):
    import pytest as _p

    from geoparquet_io_spark.operators.dedup import dedup_exact

    df = spark.createDataFrame([(1, "a")], "id long, t string")
    with _p.raises(ValueError, match="columns"):
        dedup_exact(df, columns=[])


# --- r9 review-fix regressions (NULL-geometry NaN poisoning + gates) ---------

def _pts_with_null(spark):
    from geoparquet_io_spark.functions import wkb as W

    rows = [(1, bytearray(W.encode_point(0.0, 0.0))),
            (2, bytearray(W.encode_point(10.0, 10.0))),
            (3, None),
            (4, bytearray(W.encode_point(5.0, 5.0)))]
    return spark.createDataFrame(rows, "id long, geometry binary")


def test_bounds_ignore_null_geometry(spark):
    """One NULL geometry used to make xmax/ymax NaN (NaN ranks above
    everything in Spark max) — bounds must come from real rows only."""
    from geoparquet_io_spark.operators.stats import bounds

    env = bounds(_pts_with_null(spark), geometry_column="geometry")
    assert env == (0.0, 0.0, 10.0, 10.0)


def test_sort_hilbert_with_null_geometry_still_clusters(spark):
    """The NaN extent previously clamped every Hilbert key to one cell:
    the 'sorted' output was completely unclustered with no error."""
    from geoparquet_io_spark.operators.sorts import sort_hilbert

    out = sort_hilbert(_pts_with_null(spark), geometry_column="geometry",
                       key_column="__h", keep_key=True)
    rows = [r for r in out.collect() if r["__h"] is not None]
    keys = {r["__h"] for r in rows}
    assert len(keys) == 3          # three distinct real positions


def test_add_quadkey_null_geometry_gives_null_key(spark):
    """NULL geometry used to fabricate the real-looking tile-(0,0)
    quadkey '000...0' via NaN centroids."""
    from geoparquet_io_spark.operators.add_columns import add_quadkey

    out = add_quadkey(_pts_with_null(spark), "geometry", None, 6)
    got = {r["id"]: r["quadkey"] for r in out.collect()}
    assert got[3] is None
    assert all(v is not None for k, v in got.items() if k != 3)


def test_check_spatial_order_with_null_geometry(spark):
    """A single NULL geometry made both averages NaN -> ratio NaN ->
    'unordered' verdict regardless of the actual layout."""
    from geoparquet_io_spark.functions import wkb as W
    from geoparquet_io_spark.operators.stats import check_spatial_order

    rows = [(i, bytearray(W.encode_point(float(i) / 10.0, float(i) / 10.0)))
            for i in range(200)] + [(200, None)]
    df = spark.createDataFrame(rows, "id long, geometry binary")
    res = check_spatial_order(df, geometry_column="geometry")
    ratio = res["ratio"] if isinstance(res, dict) else res
    assert ratio == ratio          # not NaN


def test_sort_column_rejects_mismatched_descending(spark):
    from geoparquet_io_spark.operators.sorts import sort_column

    df = spark.range(5).withColumn("b", F.col("id") * 2)
    with pytest.raises(ValueError, match="descending"):
        sort_column(df, ["id", "b"], descending=[True])


def test_zorder_by_linear_survives_nan_values(spark):
    """One NaN row used to poison min/max -> NaN span -> that column's
    buckets all collapsed to the constant n (dimension silently lost)."""
    from geoparquet_io_spark.operators.sorts import zorder_by

    rows = [(float(i),) for i in range(100)] + [(float("nan"),)]
    df = spark.createDataFrame(rows, "price double")
    out = zorder_by(df, ["price"], bits=4, key_column="__z",
                    keep_key=True)
    keys = {r["__z"] for r in out.select("__z").collect()}
    assert len(keys) > 4           # real spread, not one constant bucket


def test_histogram_no_phantom_bin(spark):
    """floor((x-lo)/width) can overshoot to n_bins in floating point for
    x just under hi — the phantom bin broke the [lo, hi) contract."""
    import math

    from geoparquet_io_spark.operators.stats import histogram

    lo, hi, n_bins = 18.230687000260787, 120.547622394498, 21
    x = math.nextafter(hi, -math.inf)
    df = spark.createDataFrame([(x,)], "v double")
    rows = histogram(df, "v", lo, hi, n_bins).collect()
    assert len(rows) == 1 and rows[0]["bin"] == n_bins - 1


def test_where_clause_blocks_jvm_escape_hatches(spark):
    from geoparquet_io_spark.operators.extract import validate_where_clause

    for bad in ("java_method('java.lang.System','getProperty','x') != ''",
                "reflect('java.lang.System','getProperty','x') != ''"):
        with pytest.raises(ValueError):
            validate_where_clause(bad)


def test_h3_polyfill_nested_collection(spark):
    """GEOMETRYCOLLECTION(MULTIPOLYGON(...)) used to return zero cells:
    the flat children list handed a parts-less MULTIPOLYGON node to the
    point-in-polygon test."""
    import struct as _s

    from geoparquet_io_spark.functions import wkb as W
    from geoparquet_io_spark.operators.add_columns import h3_polyfill

    ring = [(0.0, 0.0), (0.0, 8.0), (8.0, 8.0), (8.0, 0.0), (0.0, 0.0)]
    poly = W.encode_polygon([ring])
    mp = _s.pack("<BII", 1, 6, 1) + poly          # MULTIPOLYGON(1)
    gc = _s.pack("<BII", 1, 7, 1) + mp            # GEOMETRYCOLLECTION(1)
    direct = spark.createDataFrame([(bytearray(poly),)], "geometry binary")
    nested = spark.createDataFrame([(bytearray(gc),)], "geometry binary")
    a = h3_polyfill(direct, 3).collect()[0]["h3_cells"]
    b = h3_polyfill(nested, 3).collect()[0]["h3_cells"]
    assert a and a == b


# --- r9 review-fix regressions (joins / partition / geotable) ----------------

def test_knn_join_drops_null_coordinate_left_rows(spark):
    """Null-coord left points used to fall through every grid round into
    the brute crossJoin and emit k arbitrary partners with NULL
    distance (r9 review)."""
    from geoparquet_io_spark.operators.joins import knn_join

    left = spark.createDataFrame(
        [(1, 0.0, 0.0), (2, None, None)], "lid long, lon double, lat double")
    right = spark.createDataFrame(
        [(10, 0.1, 0.0), (11, 0.2, 0.0), (12, 5.0, 5.0)],
        "rid long, lon double, lat double")
    out = knn_join(left, right, k=2, initial_radius=1.0, left_id="lid",
                   tie_columns=["rid"]).collect()
    assert {r["lid"] for r in out} == {1}
    assert sorted(r["rid"] for r in out) == [10, 11]


def test_distance_join_default_names_no_duplicate_columns(spark):
    """Both sides on the default lon/lat used to emit DUPLICATE column
    names (AMBIGUOUS_REFERENCE on select, parquet write failure)."""
    from geoparquet_io_spark.operators.joins import distance_join

    left = spark.createDataFrame([(1, 0.0, 0.0)],
                                 "lid long, lon double, lat double")
    right = spark.createDataFrame([(10, 0.5, 0.0)],
                                  "rid long, lon double, lat double")
    out = distance_join(left, right, 1.0)
    assert len(out.columns) == len(set(out.columns))
    row = out.select("lon", "right_lon", "distance").collect()[0]
    assert row["lon"] == 0.0 and row["right_lon"] == 0.5


def test_grid_join_cell_overflow_raises(spark):
    """Cell indices past +-2^30 used to COLLIDE in the 62-bit pack,
    silently emitting duplicate/spurious join rows (r9 review) — now a
    loud error naming the remedy."""
    import pytest

    from geoparquet_io_spark.functions import wkb as W
    from geoparquet_io_spark.operators.joins import grid_spatial_join

    big = 2.0e9  # metres; cell_size 1.0 -> index 2e9 > 2^30
    left = spark.createDataFrame(
        [(1, bytearray(W.encode_point(big, big)))], "id long, geometry binary")
    right = spark.createDataFrame(
        [(2, bytearray(W.encode_point(big, big)), "x")],
        "rid long, geometry binary, name string")
    with pytest.raises(Exception, match="cell_size"):
        grid_spatial_join(left, "geometry", right, "geometry", ["name"],
                          cell_size=1.0).collect()


def test_partition_by_quadkey_coarser_column_raises(spark, tmp_path):
    import pytest

    from geoparquet_io_spark.functions import wkb as W
    from geoparquet_io_spark.geotable import GeoTable
    from geoparquet_io_spark.meta import GeoColumnMeta, GeoMeta

    rows = [(i, bytearray(W.encode_point(float(i), 1.0))) for i in range(4)]
    gt = GeoTable(spark.createDataFrame(rows, "id long, geometry binary"),
                  GeoMeta(primary_column="geometry",
                          columns={"geometry": GeoColumnMeta()}))
    coarse = gt.add_quadkey(zoom=5)      # pre-existing res-5 column
    with pytest.raises(Exception, match="add_quadkey"):
        coarse.partition_by_quadkey(str(tmp_path / "p"),
                                    partition_resolution=9,
                                    skip_analysis=True)


def test_extract_dropping_bbox_clears_covering(spark):
    from geoparquet_io_spark.functions import wkb as W
    from geoparquet_io_spark.geotable import GeoTable
    from geoparquet_io_spark.meta import GeoColumnMeta, GeoMeta

    rows = [(i, bytearray(W.encode_point(float(i), 1.0))) for i in range(3)]
    gt = GeoTable(spark.createDataFrame(rows, "id long, geometry binary"),
                  GeoMeta(primary_column="geometry",
                          columns={"geometry": GeoColumnMeta()})).add_bbox()
    assert gt.geo.primary.covering            # covering registered
    out = gt.extract(exclude_columns=["bbox"])
    assert "bbox" not in out.df.columns
    assert out.geo.primary.covering is None   # footer stays spec-valid
    assert gt.geo.primary.covering            # original untouched


def test_reproject_does_not_readopt_stale_literal_bbox(spark):
    """A literal 'bbox' column that is NOT the covering must not be
    re-adopted after reproject — it still holds old-CRS values."""
    from pyspark.sql import functions as F2

    from geoparquet_io_spark.functions import wkb as W
    from geoparquet_io_spark.geotable import GeoTable
    from geoparquet_io_spark.meta import GeoColumnMeta, GeoMeta

    rows = [(i, bytearray(W.encode_point(float(i), 45.0))) for i in range(3)]
    stale = F2.struct(
        F2.lit(0.0).alias("xmin"), F2.lit(0.0).alias("ymin"),
        F2.lit(1.0).alias("xmax"), F2.lit(1.0).alias("ymax"))
    df = spark.createDataFrame(rows, "id long, geometry binary") \
        .withColumn("custom_bbox", stale).withColumn("bbox", stale)
    gt = GeoTable(df, GeoMeta(primary_column="geometry",
                              columns={"geometry": GeoColumnMeta()}),
                  bbox_column="custom_bbox")
    assert gt.bbox_column == "custom_bbox"
    out = gt.reproject("EPSG:3857")
    assert "custom_bbox" not in out.df.columns   # tracked covering dropped
    assert "bbox" in out.df.columns              # user column untouched
    assert out.bbox_column is None               # and NOT re-adopted


def test_spatial_join_empty_left_with_big_right_prunes_safely(spark):
    """stats.bounds on an empty left returns None fields; the extent
    prune previously crashed comparing numpy floats to None."""
    from geoparquet_io_spark.functions import wkb as W
    from geoparquet_io_spark.operators.joins import spatial_join

    left = spark.createDataFrame([], "id long, geometry binary")
    rows = [(i, bytearray(W.encode_point(float(i % 360 - 180),
                                         float(i % 160 - 80))), f"n{i}")
            for i in range(10_050)]
    right = spark.createDataFrame(rows, "rid long, geometry binary, name string")
    out = spatial_join(left, "geometry", None, right, "geometry", None,
                       ["name"], how="left")
    assert out.count() == 0


# --- r9 review-fix regressions (geometry kernels) -----------------------------

def test_empty_geometry_kernels_null_not_fabricated(spark):
    """EMPTY geometries: centroid is NULL (was Null-Island 0,0), convex
    hull is NULL (was a job-killing ValueError), quadkey is NULL (r9
    kernel review, all verified by execution)."""
    from geoparquet_io_spark.functions import geom as G
    from geoparquet_io_spark.functions.wkt import from_wkt
    from geoparquet_io_spark.functions import wkb as W

    empty = from_wkt("POLYGON EMPTY")
    df = spark.createDataFrame(
        [(1, bytearray(empty)), (2, bytearray(W.encode_point(1.0, 2.0)))],
        "id long, geometry binary")
    rows = {r["id"]: r for r in df.select(
        "id",
        G.st_centroid_xy(F.col("geometry")).alias("c"),
        G.st_convexhull(F.col("geometry")).alias("h"),
    ).collect()}
    assert rows[1]["c"]["x"] is None and rows[1]["c"]["y"] is None
    assert rows[1]["h"] is None
    assert rows[2]["c"]["x"] == 1.0 and rows[2]["h"] is not None


def test_nan_coordinates_yield_null_keys(spark):
    """NaN (as opposed to NULL) coordinates fabricated quadkey '000..',
    morton key 0 and geohash '00000' — floor(NaN) is 0 in Spark and the
    clamps pass NaN through (r9 kernel review, verified by execution)."""
    import math

    from geoparquet_io_spark.functions.geokeys import geohash, morton_key
    from geoparquet_io_spark.functions.quadkey import quadkey

    df = spark.createDataFrame(
        [(1, math.nan, math.nan), (2, 10.0, 20.0)],
        "id long, lon double, lat double")
    out = {r["id"]: (r["qk"], r["mk"], r["gh"]) for r in df.select(
        "id",
        quadkey(F.col("lon"), F.col("lat"), 5).alias("qk"),
        morton_key(F.col("lon"), F.col("lat"),
                   (-180.0, -90.0, 180.0, 90.0), 8).alias("mk"),
        geohash(F.col("lon"), F.col("lat"), 5).alias("gh"),
    ).collect()}
    assert out[1] == (None, None, None)
    assert all(v is not None for v in out[2])


def test_with_hilbert_key_out_name_matching_temp_prefix(spark):
    """An out name like '__hb_key' used to be swept away by the
    prefix-based temp-column cleanup, returning a frame with NO key."""
    from geoparquet_io_spark.functions import geom as G

    df = spark.createDataFrame([(1.0, 2.0), (3.0, 4.0)],
                               "lon double, lat double")
    out = G.with_hilbert_key(df, F.col("lon"), F.col("lat"),
                             (-180.0, -90.0, 180.0, 90.0), "__hb_key")
    assert "__hb_key" in out.columns
    assert out.filter(F.col("__hb_key").isNotNull()).count() == 2


def test_clip_to_rect_inside_hole_is_none():
    from geoparquet_io_spark.functions import wkb as W

    outer = [(-100.0, -100.0), (100.0, -100.0), (100.0, 100.0),
             (-100.0, 100.0), (-100.0, -100.0)]
    hole = [(-50.0, -50.0), (-50.0, 50.0), (50.0, 50.0),
            (50.0, -50.0), (-50.0, -50.0)]
    poly = W.encode_polygon([outer, hole])
    assert W.clip_to_rect(poly, -1, -1, 1, 1) is None          # in hole
    assert W.clip_to_rect(poly, -200, -200, -90, -90) is not None


# --- r9 review-fix regressions (asof / skew / cli) ----------------------------

def test_asof_prefix_clash_raises_both_variants(spark):
    import pytest

    from geoparquet_io_spark.operators.asof import (
        asof_join, asof_join_broadcast)

    left = spark.createDataFrame([(1, 10, 5)],
                                 "k long, t long, asof_px long")
    right = spark.createDataFrame([(1, 5, 50)], "k long, t long, px long")
    for fn in (asof_join, asof_join_broadcast):
        with pytest.raises(ValueError, match="asof_px"):
            fn(left, right, key="k", left_ts="t", right_ts="t",
               right_columns=["px"])


def test_asof_broadcast_int64_ns_precision(spark):
    """int64 epoch-ns timestamps must compare EXACTLY: the float64
    coercion rounded distinct ns to equal values, so a left row 100 ns
    BEFORE a right row wrongly matched it (r9 review)."""
    from geoparquet_io_spark.operators.asof import (
        asof_join, asof_join_broadcast)

    base = 1_700_000_000_000_000_000        # epoch ns, ulp(float64)=256
    left = spark.createDataFrame(
        [(1, base - 100, "before"), (1, base + 100, "after")],
        "k long, t long, tag string")
    right = spark.createDataFrame([(1, base, 42)], "k long, t long, px long")
    for fn in (asof_join, asof_join_broadcast):
        rows = {r["tag"]: r["asof_px"] for r in
                fn(left, right, key="k", left_ts="t", right_ts="t",
                   right_columns=["px"]).collect()}
        assert rows == {"before": None, "after": 42}, (fn.__name__, rows)


def test_asof_broadcast_large_int_keys_with_nulls(spark):
    """A NULL key in the batch used to degrade the whole key column to
    float64, so 2^53+1 collided with 2^53 (r9 review)."""
    from geoparquet_io_spark.operators.asof import asof_join_broadcast

    k1, k2 = (1 << 53), (1 << 53) + 1
    left = spark.createDataFrame(
        [(k1, 10, "a"), (k2, 10, "b"), (None, 10, "c")],
        "k long, t long, tag string")
    right = spark.createDataFrame(
        [(k1, 5, 111), (k2, 5, 222)], "k long, t long, px long")
    rows = {r["tag"]: r["asof_px"] for r in
            asof_join_broadcast(left, right, key="k", left_ts="t",
                                right_ts="t",
                                right_columns=["px"]).collect()}
    assert rows == {"a": 111, "b": 222, "c": None}


def test_asof_broadcast_instant_vs_ntz_mismatch_raises(spark):
    import pytest

    from geoparquet_io_spark.operators.asof import asof_join_broadcast

    left = spark.createDataFrame(
        [(1, "2020-01-01 00:00:00")], "k long, t string") \
        .selectExpr("k", "CAST(t AS TIMESTAMP) AS t")
    right = spark.createDataFrame(
        [(1, "2020-01-01 00:00:00", 5)], "k long, t string, px long") \
        .selectExpr("k", "CAST(t AS TIMESTAMP_NTZ) AS t", "px")
    with pytest.raises(ValueError, match="instant"):
        asof_join_broadcast(left, right, key="k", left_ts="t",
                            right_ts="t", right_columns=["px"])


def test_range_join_reserved_point_columns_raise(spark):
    import pytest

    from geoparquet_io_spark.operators.asof import range_join

    pts = spark.createDataFrame([(1.0, 7)], "v double, __bucket long")
    iv = spark.createDataFrame([(0.0, 2.0, "x")],
                               "lo double, hi double, name string")
    with pytest.raises(ValueError, match="__bucket"):
        range_join(pts, iv, "v", "lo", "hi")


def test_salted_join_column_overlap_raises(spark):
    import pytest

    from geoparquet_io_spark.operators.skew import salted_join

    big = spark.createDataFrame([(1, "a")], "k long, value string")
    small = spark.createDataFrame([(1, "b")], "k long, value string")
    with pytest.raises(ValueError, match="value"):
        salted_join(big, small, "k")


# --- r9 review-fix regressions (CRS registry drift) ----------------------------

def test_modern_datum_geographic_codes_classified(spark):
    """EPSG:7844 (GDA2020 lon/lat — Australia's current standard), SIRGAS
    2000, NAD83(2011), JGD2011 etc. were misclassified as projected and
    get_transformer raised (r9 review, verified by execution)."""
    import numpy as np

    from geoparquet_io_spark.functions import crs as C

    for code in ("EPSG:7844", "EPSG:4674", "EPSG:6318", "EPSG:6668",
                 "EPSG:4686", "EPSG:4661"):
        assert C.is_geographic(code), code
        f = C.get_transformer(code, "EPSG:4326")
        x, y = f(np.array([10.0]), np.array([20.0]))
        assert (float(x[0]), float(y[0])) == (10.0, 20.0)
    # classical datums needing a shift stay OUT (coincidence would
    # silently offset data ~100 m)
    assert not C.is_geographic("EPSG:4277")       # OSGB36
    assert not C.is_geographic("EPSG:4275")       # NTF


def test_projjson_without_id_classified_by_type():
    from geoparquet_io_spark.functions import crs as C

    assert C.is_geographic({"type": "GeographicCRS", "name": "x"})
    assert not C.is_geographic({"type": "ProjectedCRS", "name": "x"})


def test_wkt_covers_every_registry_code():
    """wkt_for_epsg's contract says 'every EPSG_TABLE projection' — the
    hand-maintained name table had drifted 38 codes behind the r9/r9b
    registry growth, so shapefile .prj / GeoPackage definitions came
    out as stubs (r9 review)."""
    from geoparquet_io_spark.functions import projections as P
    from geoparquet_io_spark.functions.crs_wkt import wkt_for_epsg

    missing = [c for c in sorted(P.EPSG_TABLE) if wkt_for_epsg(c) is None]
    assert missing == []
    assert wkt_for_epsg(2039) is not None        # procedural ITM too
    # variant-A polar rows carry their REAL k0, not the variant-B 1.0
    w = wkt_for_epsg(32661)
    assert 'PARAMETER["scale_factor",0.994]' in w.replace(" ", ""), w


# --- r9 review-fix regressions (infra plumbing) --------------------------------

def test_plan_helpers_parse_nested_filters_and_types(spark):
    """The old comma-split/regex broke multi-arg filters and
    parameterized types (phantom '2)' column, dropped filters)."""
    from geoparquet_io_spark.plans import (
        pushed_filters_from, read_schema_columns_from)

    plan = ("Scan parquet [x] PushedFilters: [In(mode, [MAIL,SHIP]), "
            "IsNotNull(x), GreaterThan(q,24)] more")
    assert pushed_filters_from(plan) == [
        "In(mode, [MAIL,SHIP])", "IsNotNull(x)", "GreaterThan(q,24)"]
    plan2 = "ReadSchema: struct<q:decimal(12,2),a:struct<b:int,c:int>,d:int>"
    assert read_schema_columns_from(plan2) == ["q", "a", "d"]


def test_bbox_union_antimeridian_is_superset():
    """A spec-valid antimeridian-crossing bbox (xmin > xmax) naive-
    unioned to a result EXCLUDING extent near +-180 — downstream bbox
    pruning silently dropped geometries there."""
    from geoparquet_io_spark.meta import bbox_union

    u = bbox_union([170.0, 0.0, -170.0, 10.0], [160.0, 0.0, 165.0, 10.0])
    assert u == [-180.0, 0.0, 180.0, 10.0]
    assert bbox_union([1, 2, 3, 4], [0, 1, 2, 3]) == [0, 1, 3, 4]


def test_geometa_copy_preserves_writer_mode_version():
    from geoparquet_io_spark.meta import GeoMeta

    m = GeoMeta(primary_column="geometry", columns={},
                version="parquet-geo-only")
    assert m.copy().version == "parquet-geo-only"


def test_st_simplify_null_tolerance(spark):
    from geoparquet_io_spark.functions import wkb as W
    from geoparquet_io_spark.functions.sqlreg import register_sql_functions

    register_sql_functions(spark)
    df = spark.createDataFrame(
        [(bytearray(W.encode_point(1.0, 2.0)), None)],
        "geometry binary, tol double")
    df.createOrReplaceTempView("simp_v")
    row = spark.sql(
        "SELECT st_simplify(geometry, tol) AS g FROM simp_v").collect()[0]
    assert row["g"] is None


def test_grid_clusters_nan_coords_are_noise_not_origin(spark):
    """Regression (r10 sweep): floor(NaN).cast(long) is 0 in Spark, so
    NaN-coordinate rows fabricated density in cell (0, 0) — enough NaN
    rows formed a phantom origin cluster and absorbed real points
    there.  NaN/NULL/half-NaN rows must label as noise (NULL cluster)
    and contribute no density."""
    import math

    from geoparquet_io_spark.operators.clustering import \
        grid_density_clusters

    rows = [(i, math.nan, math.nan) for i in range(10)]          # all-NaN
    rows += [(100 + i, math.nan, 0.5) for i in range(10)]        # half-NaN
    rows += [(200 + i, None, None) for i in range(10)]           # NULL
    # two real points in the origin cell: below min_pts, so the origin
    # must NOT be dense even with 20 NaN rows nominally landing there
    rows += [(300, 0.2, 0.2), (301, 0.3, 0.3)]
    # a genuine cluster far away
    rows += [(400 + i, 50.0 + 0.01 * i, 50.0) for i in range(6)]
    df = spark.createDataFrame(
        rows, "id long, lon double, lat double")
    out = grid_density_clusters(df, cell_size=1.0, min_pts=5)
    got = {r["id"]: r["cluster"] for r in out.select("id", "cluster").collect()}
    for i in list(range(10)) + list(range(100, 110)) + list(range(200, 210)):
        assert got[i] is None, (i, got[i])
    assert got[300] is None and got[301] is None
    real = {got[400 + i] for i in range(6)}
    assert len(real) == 1 and None not in real


def test_grid_clusters_inf_coords_are_noise_not_saturated_cell(spark):
    """Regression (r10 advice): isnan(Inf) is false, so the NaN gate let
    ±Inf through — floor(Inf/cell).cast(long) saturates to
    Long.MaxValue and every +Inf row shared one fabricated cell key
    (same class as the NaN phantom cluster).  Inf rows must be noise
    and contribute no density."""
    import math

    from geoparquet_io_spark.operators.clustering import \
        grid_density_clusters

    rows = [(i, math.inf, math.inf) for i in range(10)]
    rows += [(100 + i, -math.inf, -math.inf) for i in range(10)]
    rows += [(200 + i, math.inf, 0.5) for i in range(10)]        # half-Inf
    rows += [(400 + i, 50.0 + 0.01 * i, 50.0) for i in range(6)]  # real
    df = spark.createDataFrame(rows, "id long, lon double, lat double")
    out = grid_density_clusters(df, cell_size=1.0, min_pts=5)
    got = {r["id"]: r["cluster"]
           for r in out.select("id", "cluster").collect()}
    for i in (list(range(10)) + list(range(100, 110))
              + list(range(200, 210))):
        assert got[i] is None, (i, got[i])
    real = {got[400 + i] for i in range(6)}
    assert len(real) == 1 and None not in real


def test_knn_join_radius_tiers_empty_left_returns_empty(spark):
    """Regression (r10 advice): radius_tiers=True crashed with
    IndexError (parts[0] over zero tiers) when the left side is empty
    or every left coordinate is NULL/NaN — the classic path returns an
    empty frame for the same input, and the tiered path must too."""
    import math

    from geoparquet_io_spark.operators.joins import knn_join

    right = spark.createDataFrame(
        [(j, float(j), 0.0) for j in range(5)], ["rid", "rx", "ry"])
    empty_left = spark.createDataFrame([], "lid long, lx double, ly double")
    kw = dict(k=2, initial_radius=0.5, left_id="lid",
              left_x="lx", left_y="ly", right_x="rx", right_y="ry",
              max_rounds=4)
    out = knn_join(empty_left, right, radius_tiers=True, **kw)
    assert out.count() == 0
    assert set(["lid", "rid", "distance", "knn_rank"]) <= set(out.columns)
    # all-NULL / all-NaN coordinates: same contract
    null_left = spark.createDataFrame(
        [(1, None, None), (2, math.nan, math.nan)],
        "lid long, lx double, ly double")
    assert knn_join(null_left, right, radius_tiers=True, **kw).count() == 0


def test_clip_to_grid_dirty_geometry_and_cell_cap(spark):
    """Regression (r10 sweep): one NaN-point or EMPTY geometry crashed
    EVERY clip_to_grid task (math.floor(nan) raises); they must emit
    nothing instead.  And a globe-spanning geometry against a tiny
    cell must fail LOUDLY at the cap, not loop billions of clips
    inside one straggler task."""
    import math

    import pytest

    from geoparquet_io_spark.functions import wkb as W
    from geoparquet_io_spark.functions import wkt as WT
    from geoparquet_io_spark.operators.tiling import clip_to_grid

    df = spark.createDataFrame(
        [(1, W.encode_point(math.nan, math.nan)),
         (2, WT.from_wkt("POLYGON EMPTY")),
         (3, WT.from_wkt("POINT EMPTY")),
         (4, None),
         (5, W.encode_point(2.5, 3.5))],
        "id long, geometry binary")
    out = clip_to_grid(df, cell_size=1.0).collect()
    assert [(r["id"], r["cell_x"], r["cell_y"]) for r in out] == [(5, 2, 3)]

    big = spark.createDataFrame(
        [(1, W.encode_box_polygon(-180.0, -90.0, 180.0, 90.0))],
        "id long, geometry binary")
    with pytest.raises(Exception, match="max_cells_per_geometry"):
        clip_to_grid(big, cell_size=0.01).collect()
    # raising the cap deliberately works
    n = clip_to_grid(big, cell_size=30.0).count()
    assert n == 12 * 6


def test_distance_join_nan_null_coords_emit_no_pairs(spark):
    """Contract pin (r10 sweep): NaN coordinates land in a fabricated
    grid cell (floor(NaN) casts to 0 in Spark) but the exact distance
    filter must still exclude them (NaN <= r is false), and NULL cells
    never equi-join — so dirty rows on EITHER side emit no pairs while
    clean rows in the same frame pair normally (including in cell 0,
    where a fabricated-key bug would collide)."""
    import math

    from geoparquet_io_spark.operators.joins import distance_join

    left = spark.createDataFrame(
        [(1, 0.1, 0.1),              # clean, in cell (0,0)
         (2, math.nan, math.nan),
         (3, None, None),
         (4, 0.3, math.nan)],
        "lid long, lx double, ly double")
    right = spark.createDataFrame(
        [(10, 0.2, 0.2),             # clean, in cell (0,0)
         (11, math.nan, 0.0),
         (12, None, 5.0)],
        "rid long, rx double, ry double")
    out = distance_join(left, right, 1.0, "lx", "ly", "rx", "ry").collect()
    assert [(r["lid"], r["rid"]) for r in out] == [(1, 10)]
    d = out[0]["distance"]
    assert abs(d - math.sqrt(0.02)) < 1e-12


def test_asof_broadcast_nan_ts_and_key_parity_with_window(spark):
    """Regression (r10 sweep): the broadcast asof treated NaN float
    timestamps/keys as NULL (pd.isna conflates them; Python nan != nan
    missed dict lookups; list.sort with NaN left the ts array in
    undefined order).  Spark and DuckDB both rank NaN above every value
    and treat NaN == NaN, so a NaN ts must match the LATEST marker and
    NaN keys form a real group — exactly what the shuffle-based
    asof_join already does.  Both operators must agree row for row."""
    import math

    from geoparquet_io_spark.operators.asof import (asof_join,
                                                    asof_join_broadcast)

    nan = math.nan
    left = spark.createDataFrame(
        [(1, 1.0, 10.0),     # plain match
         (2, 1.0, nan),      # NaN ts -> latest marker of key 1.0
         (3, nan, 5.0),      # NaN key -> NaN-key marker group
         (4, nan, nan),      # NaN key + NaN ts -> latest NaN-key marker
         (5, 1.0, None),     # NULL ts -> no match
         (6, None, 10.0),    # NULL key -> no match
         (7, 2.0, 10.0)],    # key with no markers -> no match
        "lid long, k double, ts double")
    right = spark.createDataFrame(
        [(1.0, 8.0, 100), (1.0, 20.0, 200),
         (nan, 3.0, 300), (nan, 7.0, 400)],
        "k double, ts double, payload long")
    kw = dict(key="k", left_ts="ts", right_ts="ts",
              right_columns=["payload"])
    win = {r["lid"]: r["asof_payload"]
           for r in asof_join(left, right, **kw).collect()}
    bc = {r["lid"]: r["asof_payload"]
          for r in asof_join_broadcast(left, right, **kw).collect()}
    assert bc == win
    assert win == {1: 100, 2: 200, 3: 300, 4: 400,
                   5: None, 6: None, 7: None}


def test_embedding_hygiene_filter_and_topk_poison_story(spark):
    """is_valid_embedding / filter_valid_embeddings (r10): one
    NaN-component vector scores cosine = NaN against every query and —
    because Spark and DuckDB both rank NaN above every real number —
    hijacks rank 1 of every top-k list (engine-parity semantics, so the
    kernel must NOT silently drop it; hygiene is an explicit step).
    The filter classifies NULL vector / NULL element / NaN / Inf /
    wrong-dim, and filtering first restores the true neighbours."""
    import math

    from geoparquet_io_spark.operators.similarity import (
        brute_force_topk, filter_valid_embeddings)

    rows = [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 1.0]),
            (4, [math.nan, 0.5]),          # NaN component
            (5, None),                     # NULL vector
            (6, [1.0, None]),              # NULL element
            (7, [math.inf, 0.0]),          # Inf component
            (8, [1.0, 0.0, 0.0])]          # wrong dim
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    flagged = filter_valid_embeddings(df, "embedding", dim=2,
                                      flag_column="ok")
    got = {r["vec_id"]: r["ok"] for r in flagged.collect()}
    assert got == {1: True, 2: True, 3: True,
                   4: False, 5: False, 6: False, 7: False, 8: False}
    clean = filter_valid_embeddings(df, "embedding", dim=2)
    assert sorted(r["vec_id"] for r in clean.select("vec_id").collect()) \
        == [1, 2, 3]
    # the poison story: unfiltered, the NaN vector outranks the true
    # nearest neighbour of vector 1 (engine-parity NaN-first ordering)
    dirty = df.filter("vec_id in (1, 2, 3, 4)")
    poisoned = brute_force_topk(dirty, dirty, k=1)
    top1 = {r[0]: r[1] for r in poisoned.collect()}
    assert top1[1] == 4                    # NaN hijacked rank 1
    healthy = brute_force_topk(clean, clean, k=1)
    top1 = {r[0]: r[1] for r in healthy.collect()}
    assert top1[1] == 2                    # true neighbour restored


def test_reproject_without_geometry_column_is_a_clear_error(spark):
    """reproject on a table with no geometry column used to reach
    F.col(None) and die with an opaque JVM NullPointerException
    (r12 verify drive); it must raise a ValueError naming the remedy."""
    import pytest

    from geoparquet_io_spark import read

    gt = read(spark, "/root/testdata/sf0.001/events.parquet")
    assert gt.geometry_column is None
    with pytest.raises(ValueError, match="requires a geometry column"):
        gt.reproject("EPSG:3857")


def test_every_geometry_consumer_rejects_geometryless_table(spark):
    """r12 probe sweep: every geometry-consuming surface must fail a
    table with no geometry column with a clear ValueError, never an
    opaque JVM NullPointerException / NoneType AttributeError
    (add_bbox, the GeoJSON writers, and the three vector-format
    writers all did)."""
    import os
    import tempfile

    import pytest

    from geoparquet_io_spark import read
    from geoparquet_io_spark.sources.fgb import write_fgb
    from geoparquet_io_spark.sources.geojson import (
        write_geojson, write_geojsonl)
    from geoparquet_io_spark.sources.gpkg import write_gpkg
    from geoparquet_io_spark.sources.shapefile import write_shapefile

    gt = read(spark, "/root/testdata/sf0.001/events.parquet")
    assert gt.geometry_column is None
    d = tempfile.mkdtemp()
    surfaces = [
        ("add_bbox", lambda: gt.add_bbox()),
        ("reproject", lambda: gt.reproject("EPSG:3857")),
        ("write_geojson",
         lambda: write_geojson(gt.head(2), os.path.join(d, "p.geojson"))),
        ("write_geojsonl",
         lambda: write_geojsonl(gt.head(2), os.path.join(d, "p.geojsonl"))),
        ("write_shapefile",
         lambda: write_shapefile(gt.head(2), os.path.join(d, "p.shp"))),
        ("write_gpkg",
         lambda: write_gpkg(gt.head(2), os.path.join(d, "p.gpkg"))),
        ("write_fgb",
         lambda: write_fgb(gt.head(2), os.path.join(d, "p.fgb"))),
    ]
    for name, fn in surfaces:
        with pytest.raises(ValueError, match="geometry column"):
            fn()


def test_zorder_nanvl_fast_path_nan_null_parity(spark):
    """r12 focused A/B found the shared _grid_scale NaN stack cost +20%
    on sort_zorder_multicolumn; zorder_by's linear path now uses a
    nanvl-based form.  Contract unchanged: NaN and NULL rows land in
    bucket 0 (key non-null), finite rows keep their exact buckets."""
    import math

    from pyspark.sql import functions as F

    from geoparquet_io_spark.operators.sorts import zorder_by

    rows = [(1, 10.0, 100.0), (2, 20.0, 200.0), (3, math.nan, 150.0),
            (4, None, 120.0), (5, 15.0, None), (6, 30.0, 300.0)]
    df = spark.createDataFrame(rows, "id long, a double, b double")
    z = zorder_by(df, ["a", "b"], bits=4, key_column="zk", keep_key=True)
    got = {r["id"]: r["zk"] for r in z.collect()}
    assert all(v is not None for v in got.values())
    # NaN/NULL coordinate -> that column's bucket is 0: id 3 and 4
    # (a missing) must share a's bucket with the a == lo row (id 1)
    def a_bits(key):
        return sum(((key >> (2 * j)) & 1) << j for j in range(4))
    def b_bits(key):
        return sum(((key >> (2 * j + 1)) & 1) << j for j in range(4))
    assert a_bits(got[3]) == a_bits(got[4]) == a_bits(got[1]) == 0
    assert b_bits(got[5]) == 0
    # finite rows: exact uniform-grid buckets (lo 10 / hi 30, n 15)
    assert a_bits(got[6]) == 15 and b_bits(got[6]) == 15
    assert a_bits(got[2]) == round((20.0 - 10.0) / 20.0 * 15)


def test_spatial_join_point_fast_path_list_valued_right_column(spark):
    """Regression (r13 advice): the point fast path built right-attr
    columns with np.array(list_of_rows, dtype=object); equal-length
    sequence values (ArrayType lists) made numpy produce a 2-D object
    array and the masked assignment crashed.  Lists, Rows and scalars
    must all come through intact."""
    import numpy as np
    from pyspark.sql import Row

    from geoparquet_io_spark.functions import wkb as W
    from geoparquet_io_spark.operators.joins import spatial_join

    left = spark.createDataFrame(
        [Row(id=1, geometry=bytearray(W.encode_point(0.5, 0.5))),
         Row(id=2, geometry=bytearray(W.encode_point(5.0, 5.0)))])
    box = W.encode_polygon([np.array(
        [[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 1.0], [0.0, 0.0]])])
    right = spark.createDataFrame(
        [Row(zone="a", tags=["x", "y"], geometry=bytearray(box)),
         Row(zone="b", tags=["p", "q"], geometry=None)])
    out = {r["id"]: r for r in spatial_join(
        left, "geometry", None, right, "geometry", None,
        ["zone", "tags"], how="left").collect()}
    assert out[1]["zone"] == "a" and list(out[1]["tags"]) == ["x", "y"]
    assert out[2]["zone"] is None and out[2]["tags"] is None
