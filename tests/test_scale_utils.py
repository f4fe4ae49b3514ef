"""Skew utilities + bucketed co-located joins (the 100 TB toolbox)."""

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def test_salted_distinct_count_matches_plain(spark):
    from geoparquet_io_spark.operators.skew import salted_distinct_count
    from geoparquet_io_spark.testsupport.tables import load_table

    li = load_table(spark, SF_SMOKE, "lineitem")
    plain = {
        r["l_returnflag"]: r["n"]
        for r in li.groupBy("l_returnflag")
        .agg(F.count_distinct("l_partkey").alias("n")).collect()
    }
    salted = {
        r["l_returnflag"]: r["distinct_count"]
        for r in salted_distinct_count(li, "l_returnflag", "l_partkey").collect()
    }
    assert salted == plain


def test_salted_join_matches_plain(spark):
    from geoparquet_io_spark.operators.skew import salted_join
    from geoparquet_io_spark.testsupport.tables import load_table

    li = load_table(spark, SF_SMOKE, "lineitem")
    part = load_table(spark, SF_SMOKE, "part")
    plain = li.join(part.withColumnRenamed("p_partkey", "l_partkey"), "l_partkey")
    salted = salted_join(
        li, part.withColumnRenamed("p_partkey", "l_partkey"), "l_partkey", salt=8
    )
    assert salted.count() == plain.count()
    a = salted.agg(F.sum("l_quantity")).collect()[0][0]
    b = plain.agg(F.sum("l_quantity")).collect()[0][0]
    assert abs(a - b) < 1e-6


def test_key_skew_report(spark):
    from geoparquet_io_spark.operators.skew import key_skew_report
    from geoparquet_io_spark.testsupport.tables import load_table

    ev = load_table(spark, SF_SMOKE, "events")
    rep = key_skew_report(ev, "event_type", top=3).collect()
    assert len(rep) == 3
    assert rep[0]["count"] >= rep[1]["count"]
    assert 0 < rep[0]["share"] <= 1


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    from geoparquet_io_spark.plans import formatted_plan
    from geoparquet_io_spark.sources.bucketed import bucketed_join, write_bucketed
    from geoparquet_io_spark.testsupport.tables import load_table

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ path
    try:
        li = load_table(spark, SF_SMOKE, "lineitem")
        o = load_table(spark, SF_SMOKE, "orders").withColumnRenamed(
            "o_orderkey", "l_orderkey")
        write_bucketed(li, "li_b", "l_orderkey", num_buckets=8, sort_by="l_orderkey")
        write_bucketed(o, "o_b", "l_orderkey", num_buckets=8, sort_by="l_orderkey")
        joined = bucketed_join(spark, "li_b", "o_b", "l_orderkey")
        plan = formatted_plan(joined)
        assert "Exchange" not in plan, "bucketed join must not shuffle"
        assert joined.count() == li.join(
            o, "l_orderkey").count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS li_b")
        spark.sql("DROP TABLE IF EXISTS o_b")


def _nation_boxes_df(spark):
    from geoparquet_io_spark.functions import geom as G
    from geoparquet_io_spark.testsupport.tables import load_table, nation_boxes

    n = nation_boxes(load_table(spark, SF_SMOKE, "nation"))
    n = n.withColumn("geometry", G.st_box("xmin", "ymin", "xmax", "ymax"))
    return n.withColumn("bbox", G.bbox_struct(
        F.col("xmin"), F.col("ymin"), F.col("xmax"), F.col("ymax"))) \
        .select("n_nationkey", "n_name", "geometry", "bbox")


def test_grid_join_matches_broadcast_join(spark):
    """PBSM grid join (big-big path) must produce exactly the broadcast
    closure join's result, for both inner and left."""
    from geoparquet_io_spark.operators.joins import grid_spatial_join, spatial_join
    from geoparquet_io_spark.queries import _customer_points

    pts = _customer_points(spark, SF_SMOKE)
    boxes = _nation_boxes_df(spark)

    bc = spatial_join(pts.df, "geometry", "bbox", boxes, "geometry", "bbox",
                      ["n_name"], how="left")
    expected = {(r["c_custkey"], r["n_name"]) for r in bc.collect()}

    grid_left = grid_spatial_join(
        pts.df, "geometry", boxes.withColumnRenamed("bbox", "rbox"), "geometry",
        ["n_name"], cell_size=25.0, how="left", left_id="c_custkey",
        left_bbox="bbox", right_bbox="rbox",
    )
    got = {(r["c_custkey"], r["n_name"]) for r in grid_left.collect()}
    assert got == expected

    inner_expected = {p for p in expected if p[1] is not None}
    grid_inner = grid_spatial_join(
        pts.df, "geometry", boxes.withColumnRenamed("bbox", "rbox"), "geometry",
        ["n_name"], cell_size=25.0, how="inner",
        left_bbox="bbox", right_bbox="rbox",
    )
    got_inner = {(r["c_custkey"], r["n_name"]) for r in grid_inner.collect()}
    assert got_inner == inner_expected


def test_grid_join_no_duplicate_pairs(spark):
    """Reference-point dedup: envelopes spanning many cells must still
    emit each matching pair exactly once."""
    from geoparquet_io_spark.functions import geom as G
    from geoparquet_io_spark.operators.joins import grid_spatial_join

    # two big overlapping boxes spanning multiple 10-degree cells
    a = spark.createDataFrame([(1,)], "id long").withColumn(
        "geometry", G.st_box(F.lit(-30.0), F.lit(-30.0), F.lit(30.0), F.lit(30.0)))
    b = spark.createDataFrame([(9,)], "rid long").withColumn(
        "geometry", G.st_box(F.lit(-25.0), F.lit(-25.0), F.lit(35.0), F.lit(35.0)))
    out = grid_spatial_join(a, "geometry", b, "geometry", ["rid"],
                            cell_size=10.0, how="inner")
    rows = out.collect()
    assert len(rows) == 1 and rows[0]["rid"] == 9


def test_lsh_topk_subset_of_brute_force(spark):
    from geoparquet_io_spark.operators.similarity import brute_force_topk, lsh_topk
    from geoparquet_io_spark.testsupport.tables import load_table

    e = load_table(spark, SF_SMOKE, "embeddings")
    q = e.filter(F.col("vec_id") % 97 == 0)
    exact = {(r["query_id"], r["neighbor_id"]): r["cosine"]
             for r in brute_force_topk(e, q, k=10).collect()}
    approx = lsh_topk(e, q, dim=64, k=3, n_planes=4).collect()
    assert len(approx) > 0
    # every LSH result's cosine equals the exact computation for that pair
    for r in approx:
        key = (r["query_id"], r["neighbor_id"])
        if key in exact:
            assert r["cosine"] == exact[key]
        assert -1.0 <= r["cosine"] <= 1.0
        assert 1 <= r["rank"] <= 3


def test_embedding_near_duplicates_lsh(spark):
    from geoparquet_io_spark.operators.similarity import embedding_near_duplicates
    from geoparquet_io_spark.testsupport.tables import load_table

    e = load_table(spark, SF_SMOKE, "embeddings")
    pairs = embedding_near_duplicates(e, threshold=0.3, n_planes=2, dim=64).collect()
    assert len(pairs) > 0
    for r in pairs:
        assert r["cosine"] >= 0.3
        assert r["id_a"] < r["id_b"]


def test_kdtree_auto_iterations(spark):
    from geoparquet_io_spark.operators.add_columns import add_kdtree
    from geoparquet_io_spark.testsupport.tables import event_lonlat, load_table

    ev = event_lonlat(load_table(spark, SF_SMOKE, "events"))  # 1000 rows
    out = add_kdtree(ev, x_column="lon", y_column="lat",
                     iterations=None, target_rows_per_cell=250)
    cells = out.groupBy("kdtree_cell").count().collect()
    # 1000/250 -> 2 iterations -> 4 cells, balanced within 2x
    assert len(cells) == 4
    counts = [r["count"] for r in cells]
    assert max(counts) <= 2 * min(counts)


def test_ivf_trained_recall(spark):
    """K-means-trained IVF should recover a solid share of true top-3
    neighbours with nprobe=n/2, and all of them when probing everything."""
    from geoparquet_io_spark.operators.similarity import (
        brute_force_topk, ivf_topk_trained,
    )
    from geoparquet_io_spark.testsupport.tables import load_table

    e = load_table(spark, SF_SMOKE, "embeddings")
    q = e.filter(F.col("vec_id") % 97 == 0)
    exact = {(r["query_id"], r["neighbor_id"])
             for r in brute_force_topk(e, q, k=3).collect()}
    full = {(r["query_id"], r["neighbor_id"])
            for r in ivf_topk_trained(e, q, dim=64, k=3, n_centroids=8,
                                      nprobe=8).collect()}
    assert full == exact
    half = {(r["query_id"], r["neighbor_id"])
            for r in ivf_topk_trained(e, q, dim=64, k=3, n_centroids=8,
                                      nprobe=4).collect()}
    recall = len(half & exact) / len(exact)
    assert recall >= 0.5, recall


def test_cli_subprocess_entrypoint(tmp_path):
    """python -m geoparquet_io_spark.cli works as a real process."""
    import subprocess, sys, os

    csv = tmp_path / "in.csv"
    csv.write_text("id,wkt\n1,POINT (1 2)\n2,POINT (3 4)\n3,POINT (5 6)\n")
    out = str(tmp_path / "out.parquet")
    env = {**os.environ, "SPARK_GRAFT_CPUS": "4"}
    r = subprocess.run(
        [sys.executable, "-m", "geoparquet_io_spark.cli", "convert",
         str(csv), out],
        capture_output=True, text=True, timeout=300, env=env,
        cwd="/root/repo",
    )
    assert r.returncode == 0, r.stderr[-500:]
    import pyarrow.parquet as pq

    assert pq.read_metadata(out).num_rows == 3


def test_spatial_join_multipolygon_right_side(spark):
    """Point fast path must match MultiPolygon right geometries (real admin
    boundaries are almost always MultiPolygons)."""
    import numpy as np
    from geoparquet_io_spark.functions import wkb as _wkb
    from geoparquet_io_spark.operators.joins import spatial_join

    sq = lambda x0, y0: [np.array(
        [[x0, y0], [x0 + 10, y0], [x0 + 10, y0 + 10], [x0, y0 + 10], [x0, y0]],
        dtype=np.float64)]
    mp = _wkb.encode_multipolygon([sq(0.0, 0.0), sq(40.0, 40.0)])
    right = spark.createDataFrame([("both", bytearray(mp))],
                                  "name string, geometry binary")
    pts = spark.createDataFrame(
        [(1, 5.0, 5.0), (2, 45.0, 45.0), (3, 25.0, 25.0)],
        "id long, x double, y double")
    from geoparquet_io_spark.functions import geom as G
    pts = pts.withColumn("geometry", G.st_point(F.col("x"), F.col("y"))) \
             .select("id", "geometry")
    out = spatial_join(pts, "geometry", None, right, "geometry", None,
                       ["name"], how="left")
    got = {r["id"]: r["name"] for r in out.collect()}
    assert got == {1: "both", 2: "both", 3: None}


def test_spatial_join_autoroutes_large_right(spark):
    """Right sides above the broadcast threshold route to the grid join and
    return identical rows."""
    from geoparquet_io_spark.operators.joins import spatial_join
    from geoparquet_io_spark.queries import _customer_points

    pts = _customer_points(spark, SF_SMOKE)
    boxes = _nation_boxes_df(spark).drop("bbox")

    bc = spatial_join(pts.df, "geometry", "bbox", boxes, "geometry", None,
                      ["n_name"], how="left")
    expected = {(r["c_custkey"], r["n_name"]) for r in bc.collect()}
    routed = spatial_join(pts.df, "geometry", "bbox", boxes, "geometry", None,
                          ["n_name"], how="left", broadcast_threshold=5)
    got = {(r["c_custkey"], r["n_name"]) for r in routed.collect()}
    assert got == expected


def test_spatial_join_byte_gate_routes_fat_right(spark, monkeypatch):
    """A LOW-row-count right side of fat geometries must route to the
    grid join (r7: byte gate beside the row gate) — 50k coastline
    polygons can be GBs of WKB while 500k points broadcast fine.  The
    probe must never collect the fat payload to the driver."""
    from geoparquet_io_spark.operators import joins as J
    from geoparquet_io_spark.queries import _customer_points

    pts = _customer_points(spark, SF_SMOKE)
    boxes = _nation_boxes_df(spark).drop("bbox")   # 25 rows, small WKB

    calls = []
    real = J._route_to_grid_join

    def spy(*a, **kw):
        calls.append(1)
        return real(*a, **kw)

    monkeypatch.setattr(J, "_route_to_grid_join", spy)
    bc = J.spatial_join(pts.df, "geometry", "bbox", boxes, "geometry",
                        None, ["n_name"], how="left")
    expected = {(r["c_custkey"], r["n_name"]) for r in bc.collect()}
    assert calls == []                 # small + thin: stayed broadcast
    routed = J.spatial_join(
        pts.df, "geometry", "bbox", boxes, "geometry", None, ["n_name"],
        how="left", broadcast_threshold=1000,     # row gate passes...
        broadcast_bytes_threshold=100)            # ...byte gate trips
    got = {(r["c_custkey"], r["n_name"]) for r in routed.collect()}
    assert calls == [1]                # routed on BYTES, not rows
    assert got == expected


def test_spatial_join_reguards_grown_right_after_probe(spark, monkeypatch,
                                                      tmp_path):
    """The lengths-only probe and the payload collect are two separate
    jobs; a right lineage that grows in between (non-deterministic
    .sample()/rand(), a source appended to mid-query) must route to the
    grid join, NOT proceed with a silently-truncated broadcast index
    that drops join matches (r7 ADVICE)."""
    import os

    import numpy as np
    import pandas as pd

    from geoparquet_io_spark.functions import geom as G
    from geoparquet_io_spark.functions import wkb as _wkb
    from geoparquet_io_spark.operators import joins as J

    counter = str(tmp_path / "right_evals")
    square = bytes(_wkb.encode_polygon([np.array(
        [[0.0, 0.0], [10.0, 0.0], [10.0, 10.0], [0.0, 10.0], [0.0, 0.0]])]))

    def grow(batches):
        # every Spark job over this lineage re-runs the UDF; emit 3 rows
        # on the first evaluation (the probe) and 50 on later ones (the
        # payload collect) — the deterministic stand-in for a right side
        # that changed between the two jobs
        with open(counter, "a") as f:
            f.write("x")
        n = 3 if os.path.getsize(counter) <= 1 else 50
        for _ in batches:
            yield pd.DataFrame({"name": [f"p{i}" for i in range(n)],
                                "geometry": [square] * n})

    right = spark.range(1).coalesce(1).mapInPandas(
        grow, "name string, geometry binary")
    pts = spark.createDataFrame([(1, 5.0, 5.0)],
                                "id long, x double, y double")
    pts = pts.withColumn("geometry", G.st_point(F.col("x"), F.col("y"))) \
             .select("id", "geometry")

    sentinel = spark.createDataFrame([(0,)], "marker long")
    calls = []
    monkeypatch.setattr(
        J, "_route_to_grid_join",
        lambda *a, **kw: (calls.append(1), sentinel)[1])
    out = J.spatial_join(pts, "geometry", None, right, "geometry", None,
                         ["name"], how="left", broadcast_threshold=10)
    assert calls == [1] and out is sentinel


def test_connected_components_chains(spark):
    """a~b, b~c, and a separate d~e: two components, min-id labels."""
    from geoparquet_io_spark.operators.dedup import (
        connected_components, dedup_transitive,
    )

    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 7), (10, 11)], "id_a long, id_b long")
    comp = {r["id"]: r["component"]
            for r in connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 7: 1, 10: 10, 11: 10}

    df = spark.createDataFrame([(i,) for i in (1, 2, 3, 7, 10, 11, 99)],
                               "doc long")
    kept = sorted(r["doc"] for r in
                  dedup_transitive(df, pairs, "doc").collect())
    # one survivor per chain (min id) + untouched singleton
    assert kept == [1, 10, 99]


def test_connected_components_long_chain_converges(spark):
    from geoparquet_io_spark.operators.dedup import connected_components

    # path graph 0-1-2-...-12: one component labeled 0; needs several
    # propagation rounds (diameter > 1)
    pairs = spark.createDataFrame([(i, i + 1) for i in range(12)],
                                  "id_a long, id_b long")
    comp = connected_components(pairs).collect()
    assert {r["component"] for r in comp} == {0}
    assert len(comp) == 13


def test_leakage_safe_split_group_invariant(spark):
    """Every member of a near-dup group gets the SAME split; singletons
    split by their own id exactly like split_by_hash; assignment is
    exhaustive and map-only after the one groups join."""
    from geoparquet_io_spark.operators.sampling import (leakage_safe_split,
                                                        split_by_hash)

    ids = spark.createDataFrame([(i,) for i in range(1, 401)], ["doc_id"])
    # groups: {1,2,3} -> 1, {10,11} -> 10; everyone else singleton
    groups = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)], ["id", "component"])
    w = {"train": 0.6, "valid": 0.2, "test": 0.2}
    out = leakage_safe_split(ids, "doc_id", groups, w, salt="t")
    rows = {r["doc_id"]: r["split"] for r in out.collect()}
    assert len(rows) == 400                       # exhaustive, no dup rows
    assert rows[1] == rows[2] == rows[3]          # group moves as one
    assert rows[10] == rows[11]
    # singletons match the plain per-id split (same salt, same draw)
    plain = {r["doc_id"]: r["split"]
             for r in split_by_hash(ids, "doc_id", w, salt="t").collect()}
    for i in rows:
        if i not in (2, 3, 11):    # non-reps may differ from per-id draw
            assert rows[i] == plain[i], i
    # all three splits are non-degenerate at n=400
    from collections import Counter
    c = Counter(rows.values())
    assert set(c) == {"train", "valid", "test"}


def test_hash_sampling_deterministic_and_map_only(spark):
    from geoparquet_io_spark.operators.sampling import (
        mixture_sample, sample_by_hash, split_by_hash,
    )
    from geoparquet_io_spark.plans import plan_summary
    from geoparquet_io_spark.testsupport.tables import load_table

    d = load_table(spark, SF_SMOKE, "documents")
    a = {r["doc_id"] for r in sample_by_hash(d, "doc_id", 0.3).collect()}
    b = {r["doc_id"] for r in
         sample_by_hash(d.repartition(7), "doc_id", 0.3).collect()}
    assert a == b and 0 < len(a) < d.count()  # stable under repartitioning
    # rate subset property: smaller fraction is a subset of larger
    c = {r["doc_id"] for r in sample_by_hash(d, "doc_id", 0.1).collect()}
    assert c <= a
    # plan: no shuffle, no python
    s = plan_summary(sample_by_hash(d, "doc_id", 0.3))
    assert s["exchanges"] == 0 and s["python_evals"] == 0

    # splits: disjoint + exhaustive + leakage-free keys
    out = split_by_hash(d, "doc_id",
                        {"train": 0.8, "valid": 0.1, "test": 0.1})
    rows = out.select("doc_id", "split").collect()
    assert len(rows) == d.count()
    assert {r["split"] for r in rows} == {"train", "valid", "test"}
    again = {r["doc_id"]: r["split"] for r in
             split_by_hash(d.repartition(5), "doc_id",
                           {"train": 0.8, "valid": 0.1, "test": 0.1})
             .select("doc_id", "split").collect()}
    assert all(again[r["doc_id"]] == r["split"] for r in rows)

    mixed = mixture_sample(d, "doc_id", "source", {"src1": 1.0}, salt="m")
    srcs = {r["source"] for r in mixed.select("source").distinct().collect()}
    assert srcs == {"src1"}  # default fraction 0 drops the rest


def test_asof_join_semantics_and_plan(spark):
    from geoparquet_io_spark.operators.asof import asof_join
    from geoparquet_io_spark.plans import plan_summary

    left = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (1, 5, "c"), (2, 50, "d")],
        "k long, t long, tag string")
    right = spark.createDataFrame(
        [(1, 10, 100), (1, 15, 150), (2, 60, 600)],
        "k long, t long, px long")
    out = asof_join(left, right, key="k", left_ts="t", right_ts="t",
                    right_columns=["px"])
    got = {(r["k"], r["t"]): r["asof_px"] for r in out.collect()}
    assert got == {
        (1, 10): 100,   # inclusive: right at equal ts matches
        (1, 20): 150,   # latest at-or-before
        (1, 5): None,   # nothing at or before
        (2, 50): None,  # right exists but only later
    }
    assert out.count() == left.count()  # LEFT semantics
    s = plan_summary(out)
    assert s["python_evals"] == 0
    # ONE shuffle total: Union feeds a single Exchange on the key into the
    # window (the executedPlan string is exact; plan_summary's formatted
    # view double-counts under AQE)
    phys = out._jdf.queryExecution().executedPlan().toString()
    final = phys.split("== Initial Plan ==")[0]  # AQE prints both phases
    assert final.count("Exchange") == 1, final


def test_asof_broadcast_equals_shuffle(spark):
    """Map-only broadcast as-of == union-window as-of on real events."""
    from pyspark.sql import functions as F

    from geoparquet_io_spark.operators.asof import asof_join, asof_join_broadcast
    from geoparquet_io_spark.testsupport.tables import load_table

    ev = load_table(spark, SF_SMOKE, "events")
    markers = (ev.filter(F.col("event_id") % 5 == 0)
               .groupBy("user_id", "ts").agg(F.max("event_id").alias("mid")))
    la = ev.select("event_id", "user_id", "ts")
    a = {(r["event_id"], r["asof_mid"]) for r in
         asof_join(la, markers, key="user_id", right_columns=["mid"]).collect()}
    b = {(r["event_id"], r["asof_mid"]) for r in
         asof_join_broadcast(la, markers, key="user_id",
                             right_columns=["mid"]).collect()}
    assert a == b and len(a) == ev.count()
    # broadcast path: left side must not shuffle
    out = asof_join_broadcast(la, markers, key="user_id", right_columns=["mid"])
    phys = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in phys.split("== Initial Plan ==")[0], phys


def test_range_join_semantics_and_plan(spark):
    """Bucketed point-in-interval join: inclusive lo / exclusive hi,
    LEFT restore, overlapping intervals, equi-join plan (no nested loop)."""
    from pyspark.sql import functions as F

    from geoparquet_io_spark.operators.asof import range_join
    from geoparquet_io_spark.plans import formatted_plan

    pts = spark.createDataFrame(
        [(1, 0.0), (2, 10.0), (3, 25.0), (4, 99.0)], "pid long, v double")
    iv = spark.createDataFrame(
        [("a", 0.0, 10.0), ("b", 10.0, 30.0), ("ov", 5.0, 26.0)],
        "tag string, lo double, hi double")
    got = {(r["pid"], r["tag"]) for r in
           range_join(pts, iv, "v", "lo", "hi", bucket_size=10.0).collect()}
    assert got == {(1, "a"),          # lo inclusive
                   (2, "b"),          # hi exclusive for 'a', lo inclusive 'b'
                   (2, "ov"),
                   (3, "b"), (3, "ov")}
    left = range_join(pts, iv, "v", "lo", "hi", bucket_size=10.0,
                      how="left", point_id="pid")
    assert left.count() == 5 + 1  # 5 matches + unmatched pid=4 with NULL tag
    assert left.filter(F.col("pid") == 4).collect()[0]["tag"] is None
    plan = formatted_plan(range_join(pts, iv, "v", "lo", "hi", bucket_size=10.0))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_pack_sequences_invariants(spark):
    from geoparquet_io_spark.operators.packing import pack_sequences
    from geoparquet_io_spark.operators.text import token_count
    from geoparquet_io_spark.testsupport.tables import load_table

    d = load_table(spark, SF_SMOKE, "documents").filter(
        F.length(F.trim("text")) > 0
    )
    sized = d.select(
        "lang", "doc_id", token_count(F.col("text")).cast("long").alias("n_tokens")
    )
    budget = 256
    out = pack_sequences(sized, "lang", "doc_id", "n_tokens", budget)
    rows = out.collect()
    assert len(rows) == sized.count()

    # per (lang, pack): total within budget unless the pack is a single
    # oversized row; pack ids contiguous from 0; order preserved
    by_group = {}
    for r in rows:
        by_group.setdefault(r["lang"], []).append(r)
    for lang, rs in by_group.items():
        rs.sort(key=lambda r: r["doc_id"])
        packs = {}
        for r in rs:
            packs.setdefault(r["pack_id"], []).append(r)
        assert sorted(packs) == list(range(len(packs)))
        for pid, members in packs.items():
            total = sum(m["n_tokens"] for m in members)
            assert total <= budget or len(members) == 1
        # greedy: a new pack only opens because the previous could not fit
        seen = [r["pack_id"] for r in rs]
        assert seen == sorted(seen)

    # deterministic under repartitioning
    out2 = pack_sequences(sized.repartition(7), "lang", "doc_id", "n_tokens", budget)
    a = sorted(tuple(r) for r in rows)
    b = sorted(tuple(r) for r in out2.collect())
    assert a == b

    with pytest.raises(ValueError):
        pack_sequences(sized, "lang", "doc_id", "n_tokens", 0)


def test_pq_trained_cluster_consistency_and_encode_plan(spark):
    """PQ encoding is map-only native codegen; on clustered data every
    ADC top-3 neighbor lands in the query's true cluster.  (Recall@3
    against exact neighbors is NOT asserted: quantization erases
    sub-codebook-scale differences, so exact-rank recovery is the wrong
    invariant for PQ — cluster consistency is what ADC guarantees.)"""
    import numpy as np

    from geoparquet_io_spark.operators.similarity import (
        pq_encode, pq_topk_adc, pq_train_codebooks,
    )
    from geoparquet_io_spark.plans import plan_summary
    from geoparquet_io_spark.testsupport.tables import load_table

    e = load_table(spark, SF_SMOKE, "embeddings")
    enc = pq_encode(e, dim=64, m=4, n_codes=8)
    assert plan_summary(enc)["python_evals"] == 0

    rng = np.random.RandomState(3)
    centers = rng.randn(10, 64) * 3
    x = np.vstack([c + rng.randn(40, 64) * 0.3 for c in centers])
    rows = [(int(i), [float(v) for v in x[i]], int(i // 40))
            for i in range(len(x))]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, cluster long")
    books = pq_train_codebooks(df, dim=64, m=4, n_codes=8)
    q = df.filter(F.col("vec_id") % 40 == 0)
    top = pq_topk_adc(df, q, dim=64, m=4, n_codes=8, k=3,
                      codebooks=books).collect()
    assert len(top) == 30  # 10 queries x 3
    cluster_of = {r["vec_id"]: r["cluster"] for r in df.collect()}
    for r in top:
        assert cluster_of[r["neighbor_id"]] == cluster_of[r["query_id"]], r


def test_zorder_interleave_matches_reference(spark):
    from pyspark.sql import functions as F

    from geoparquet_io_spark.operators.sorts import _interleave

    def ref(vals, bits):
        key = 0
        for i, v in enumerate(vals):
            for j in range(bits):
                key |= ((v >> j) & 1) << (j * len(vals) + i)
        return key

    rows = [(5, 200, 9), (0, 0, 0), (255, 255, 255), (170, 85, 1)]
    df = spark.createDataFrame(rows, ["a", "b", "c"])
    out = df.withColumn("k", _interleave(
        [F.col("a").cast("long"), F.col("b").cast("long"),
         F.col("c").cast("long")], 8)).collect()
    for r in out:
        assert r["k"] == ref((r["a"], r["b"], r["c"]), 8)


def test_zorder_by_clusters_every_column(spark):
    """After Z-ORDER clustering into 8 range partitions, each partition
    covers a narrow band of BOTH columns; a plain single-column sort
    leaves the second column's per-partition spans at full width."""
    import random

    from pyspark.sql import functions as F

    rng = random.Random(3)
    # 20k rows: repartitionByRange samples partition boundaries, and at
    # 4k rows a concurrently-loaded host could land a degenerate split
    # that tripped the old absolute thresholds (r7 flake)
    rows = [(rng.randrange(10000), rng.randrange(10000))
            for _ in range(20000)]
    df = spark.createDataFrame(rows, ["x", "y"]).repartition(8)

    def mean_span(clustered, col):
        # ignore near-empty partitions (the range partitioner can emit
        # them; a 1-row partition has span 0 and would skew the mean)
        spans = (clustered
                 .withColumn("p", F.spark_partition_id())
                 .groupBy("p")
                 .agg((F.max(col) - F.min(col)).alias("s"),
                      F.count("*").alias("n"))
                 .filter(F.col("n") >= 100)
                 .agg(F.avg("s")).collect()[0][0])
        return spans

    from geoparquet_io_spark.operators.sorts import zorder_by

    z = zorder_by(df, ["x", "y"], bits=8, num_partitions=8) \
        .localCheckpoint(eager=True)
    plain = df.repartitionByRange(8, "x").sortWithinPartitions("x") \
        .localCheckpoint(eager=True)
    # plain sort: y spans stay ~full width (~10000); zorder: both shrink.
    # Assert the zorder-vs-plain RATIO, not absolute spans — absolute
    # thresholds sat too close to what sampled range boundaries give
    # and flaked under host contention (r7 verdict #2).
    plain_y = mean_span(plain, "y")
    assert plain_y > 7000
    assert mean_span(z, "x") < 0.75 * plain_y
    assert mean_span(z, "y") < 0.75 * plain_y


def test_zorder_by_range_method_handles_skew(spark):
    """Equi-depth (range) buckets on a heavily skewed column still split
    the data: the busiest of 16 x-buckets holds far less than the 90%
    a linear grid would give it."""
    from pyspark.sql import functions as F

    from geoparquet_io_spark.operators.sorts import zorder_by

    # 90% of mass in [0, 10), long tail to 1e6
    import random

    rng = random.Random(5)
    rows = [(rng.randrange(10) if rng.random() < 0.9
             else rng.randrange(1000000), i) for i in range(5000)]
    df = spark.createDataFrame(rows, ["x", "row_id"])
    z = zorder_by(df, ["x", "row_id"], bits=4, method="range",
                  key_column="zk", keep_key=True)
    # recover the x bucket id from the interleaved key (even bits)
    got = z.select("x", "zk").collect()

    def unshuffle(k):
        v = 0
        for j in range(4):
            v |= ((k >> (2 * j)) & 1) << j
        return v

    from collections import Counter

    c = Counter(unshuffle(r["zk"]) for r in got)
    assert len(c) >= 8                      # skew did not collapse buckets
    assert max(c.values()) < 0.55 * 5000    # no 90% mega-bucket


def test_zorder_by_strings_and_guards(spark):
    import pytest as _pytest

    from geoparquet_io_spark.operators.sorts import zorder_by

    df = spark.createDataFrame(
        [("alpha", 1), ("beta", 2), ("alpha", 3)], ["s", "v"])
    out = zorder_by(df, ["s", "v"], bits=6, key_column="k", keep_key=True)
    rows = out.collect()
    assert len(rows) == 3 and all(r["k"] >= 0 for r in rows)
    with _pytest.raises(ValueError, match="63"):
        zorder_by(df, ["s", "v"], bits=40)
    with _pytest.raises(ValueError, match="at least one"):
        zorder_by(df, [])


def test_spatial_joinability_ranking(spark):
    from geoparquet_io_spark.operators.discovery import spatial_joinability

    rows = []
    for i in range(20):
        rows.append(("overlapping", float(i), float(i % 10)))
        rows.append(("disjoint", float(i) + 500.0, float(i % 10) + 500.0))
    cands = spark.createDataFrame(rows, ["ds", "x", "y"])
    query = spark.createDataFrame(
        [(float(i), float(i % 10)) for i in range(20)], ["x", "y"])
    out = {r["dataset"]: r for r in spatial_joinability(
        cands, query, "ds", "x", "y", cell_size=5.0).collect()}
    assert out["overlapping"]["rank"] == 1
    assert out["overlapping"]["coverage"] == 1.0
    assert out["disjoint"]["shared_cells"] == 0
    assert out["disjoint"]["coverage"] == 0.0


def test_leakage_safe_split_rejects_pair_list(spark):
    """Passing the raw near-dup PAIR list (id appears with two different
    reps) must raise loudly, not silently duplicate corpus rows."""
    import pytest
    from pyspark.sql.utils import AnalysisException  # noqa: F401

    from geoparquet_io_spark.operators.sampling import leakage_safe_split

    ids = spark.createDataFrame([(i,) for i in range(1, 10)], ["doc_id"])
    bad = spark.createDataFrame(
        [(2, 1), (2, 3)], ["id", "component"])    # id 2 -> two reps
    out = leakage_safe_split(ids, "doc_id", bad,
                             {"train": 0.5, "test": 0.5}, salt="t")
    with pytest.raises(Exception, match="multiple group representatives"):
        out.collect()
    # duplicate (id, rep) ROWS are fine — same rep, one output row
    dup_ok = spark.createDataFrame(
        [(2, 1), (2, 1), (3, 1)], ["id", "component"])
    got = leakage_safe_split(ids, "doc_id", dup_ok,
                             {"train": 0.5, "test": 0.5}, salt="t")
    assert got.count() == 9


def test_spread_skips_already_shuffled_plans(spark):
    """spread() must pass a plan that already contains a shuffle
    exchange through UNTOUCHED (identity, no extra repartition): the
    post-shuffle partitioning is data-sized by AQE, and the .rdd
    partition probe on such a plan executes every upstream stage as a
    throwaway job.  A shuffle-free single-file scan must still be
    repartitioned to defaultParallelism, and a BROADCAST exchange must
    not trip the gate (it never re-spreads the streamed side)."""
    from geoparquet_io_spark.operators.skew import spread
    from geoparquet_io_spark.plans import plan_nodes, shuffles
    from geoparquet_io_spark.testsupport.tables import load_table

    target = spark.sparkContext.defaultParallelism

    # shuffled plans: identity pass-through, probe never runs
    agg = load_table(spark, SF_SMOKE, "customer") \
        .groupBy("c_nationkey").count()
    assert spread(agg) is agg
    dd = load_table(spark, SF_SMOKE, "customer") \
        .dropDuplicates(["c_nationkey"])
    assert spread(dd) is dd
    # results are unchanged by the gate (partitioning-only decision)
    assert spread(agg).count() == agg.count()

    # shuffle-free single-file scan: still spread to defaultParallelism
    scan = load_table(spark, SF_SMOKE, "customer")
    if scan.rdd.getNumPartitions() < target:
        assert spread(scan).rdd.getNumPartitions() == target

    # broadcast-only exchange does NOT count as a shuffle: the streamed
    # single-file side still gets the probe + repartition
    small = spark.range(30).select(
        F.col("id").cast("int").alias("c_nationkey"))
    bj = load_table(spark, SF_SMOKE, "customer") \
        .join(F.broadcast(small), "c_nationkey")
    assert "BroadcastExchange" in [n.nodeName() for n in plan_nodes(bj)]
    assert not shuffles(bj)
    # a frame that has already run still reads as shuffled: its AQE plan
    # keeps the exchange in initialPlan, behind query-stage leaves
    agg.collect()
    assert spread(agg) is agg


def test_spread_gate_ignores_column_names(spark, tmp_path):
    """A column named like a plan node is not a node: a one-file scan
    whose column is called Exchange spreads exactly like the same scan
    with the column renamed."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from geoparquet_io_spark.operators.skew import spread

    target = spark.sparkContext.defaultParallelism
    for name in ("Exchange", "venue"):
        path = str(tmp_path / f"{name.lower()}.parquet")
        pq.write_table(pa.table({name: list(range(1000))}), path)
        scan = spark.read.parquet(path)
        assert scan.rdd.getNumPartitions() == 1
        out = spread(scan)
        assert out.rdd.getNumPartitions() == target, name
        assert out.count() == 1000


@pytest.mark.parametrize("shape", ["repartition1", "global_window"])
def test_spread_spreads_single_partition_exchange(spark, shape):
    """A SinglePartition exchange pins every later stage to one task, so
    spread() must probe and repartition it like a one-file scan."""
    from pyspark.sql import Window

    from geoparquet_io_spark.operators.skew import spread
    from geoparquet_io_spark.testsupport.tables import load_table

    target = spark.sparkContext.defaultParallelism
    c = load_table(spark, SF_SMOKE, "customer").select("c_custkey")
    if shape == "repartition1":
        df = c.repartition(1)
    else:
        df = c.withColumn(
            "rn", F.row_number().over(Window.orderBy("c_custkey")))
    out = spread(df)
    assert out.rdd.getNumPartitions() == target
    assert sorted(out.collect()) == sorted(df.collect())
