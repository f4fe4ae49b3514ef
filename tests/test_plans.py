"""Plan-quality regression tests: pushdown, pruning, broadcast.
These are the 100 TB guarantees — if a refactor breaks one, the engine
still returns right answers but stops scaling."""

import pytest

from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def written_points(spark, tmp_path_factory):
    from geoparquet_io_spark.queries import _events_points

    out = str(tmp_path_factory.mktemp("plans") / "pts.parquet")
    _events_points(spark, SF_SMOKE).write(out)
    return out


def test_bbox_covering_predicates_push_to_parquet(spark, written_points):
    import geoparquet_io_spark as gps
    from geoparquet_io_spark.plans import pushed_filters

    back = gps.read(spark, written_points)
    ex = back.extract(bbox=(-60, -40, 40, 60))
    pushed = " ".join(pushed_filters(ex.df))
    # struct-field min/max comparisons must reach the scan (row-group pruning)
    assert "bbox.xmax" in pushed and "bbox.ymin" in pushed


def test_column_pruning_reaches_scan(spark):
    from geoparquet_io_spark.plans import read_schema_columns
    from geoparquet_io_spark.testsupport.tables import load_table

    li = load_table(spark, SF_SMOKE, "lineitem")
    q = li.filter("l_quantity >= 45").select("l_orderkey", "l_quantity")
    assert set(read_schema_columns(q)) == {"l_orderkey", "l_quantity"}


def test_where_pushdown(spark):
    from geoparquet_io_spark.geotable import GeoTable
    from geoparquet_io_spark.plans import pushed_filters
    from geoparquet_io_spark.testsupport.tables import load_table

    li = load_table(spark, SF_SMOKE, "lineitem")
    out = GeoTable(li, None).extract(where="l_quantity >= 45", columns=["l_orderkey"])
    assert any("l_quantity" in f for f in pushed_filters(out.df))


def test_q5_joins_are_broadcast(spark):
    from geoparquet_io_spark.plans import plan_summary
    from geoparquet_io_spark.queries import REGISTRY

    q5 = REGISTRY["tpch_q5_region_revenue"][0](spark, SF_SMOKE)
    s = plan_summary(q5)
    assert s["broadcast_joins"] >= 1
    assert s["sort_merge_joins"] == 0


def test_native_ops_have_no_python_eval(spark):
    """Quadkey, dedup shingling, text analysis: zero python evals in plan."""
    from geoparquet_io_spark.operators.dedup import minhash_bands
    from geoparquet_io_spark.operators.text import quality_features
    from geoparquet_io_spark.plans import plan_summary
    from geoparquet_io_spark.testsupport.tables import load_table

    d = load_table(spark, SF_SMOKE, "documents")
    assert plan_summary(minhash_bands(d))["python_evals"] == 0
    assert plan_summary(quality_features(d))["python_evals"] == 0
    from geoparquet_io_spark.operators.text import repetition_features

    assert plan_summary(repetition_features(d))["python_evals"] == 0


def test_contamination_probe_is_broadcast(spark):
    """Eval-set shingles broadcast; corpus side never sort-merge joins."""
    from pyspark.sql import functions as F

    from geoparquet_io_spark.operators.text import ngram_contamination
    from geoparquet_io_spark.plans import plan_summary
    from geoparquet_io_spark.testsupport.tables import load_table

    d = load_table(spark, SF_SMOKE, "documents")
    out = ngram_contamination(
        d.filter(F.col("doc_id") % 29 != 0), d.filter(F.col("doc_id") % 29 == 0)
    )
    s = plan_summary(out)
    assert s["broadcast_joins"] >= 1
    assert s["sort_merge_joins"] == 0
    assert s["python_evals"] == 0


def test_topk_bounded_shuffle_no_cross_product(spark):
    """r7 shape: scoring + per-task top-k live in ONE Arrow kernel; the
    only join-free shuffle feeds the final row_number window over
    <= tasks * |q| * cap candidate rows — never the n*|q| cross
    product the r6 profile showed amortizing slowest of all headline
    ops."""
    from geoparquet_io_spark.operators.similarity import brute_force_topk
    from geoparquet_io_spark.plans import formatted_plan
    from geoparquet_io_spark.testsupport.tables import load_table
    from pyspark.sql import functions as F

    e = load_table(spark, SF_SMOKE, "embeddings")
    q = e.filter(F.col("vec_id") % 97 == 0)
    plan = formatted_plan(brute_force_topk(e, q, k=3))
    # no join of any kind: the query set rides inside the kernel closure
    for node in ("CartesianProduct", "BroadcastNestedLoopJoin",
                 "BroadcastHashJoin", "SortMergeJoin"):
        assert node not in plan, node
    assert "MapInArrow" in plan or "ArrowEvalPython" in plan
    # the top-k window partitions by query_id (no single-reducer sort)
    assert "row_number" in plan


def test_minhash_shuffle_count(spark):
    """Signature pipeline: explode+agg is ONE shuffle (partial aggregation
    map-side); more exchanges means the plan regressed."""
    from geoparquet_io_spark.operators.dedup import minhash_signatures_agg
    from geoparquet_io_spark.plans import plan_summary
    from geoparquet_io_spark.testsupport.tables import load_table

    d = load_table(spark, SF_SMOKE, "documents")
    s = plan_summary(minhash_signatures_agg(d, "doc_id"))
    # one logical agg shuffle + the gated spread() round-robin (a no-op
    # exchange-wise on real multi-file lakes); AQE's formatted plan can
    # print a node twice
    assert s["exchanges"] <= 4, s
    assert s["python_evals"] == 0


def test_simhash_capped_path_reuses_bucket_partitioning(spark):
    """The r8 hot-bucket cap sizes every (band, nibble) bucket with one
    window; the small-bucket self-join and the hot-bucket chain window
    must REUSE that partitioning rather than adding a fresh Exchange
    per branch, and the pair space must stay an equi-join (no
    cartesian)."""
    from geoparquet_io_spark.operators.dedup import simhash_candidate_pairs
    from geoparquet_io_spark.plans import formatted_plan, plan_summary
    from geoparquet_io_spark.testsupport.tables import load_table

    d = load_table(spark, SF_SMOKE, "documents")
    out = simhash_candidate_pairs(d, "doc_id", max_bucket_size=8)
    plan = formatted_plan(out)
    for node in ("CartesianProduct", "BroadcastNestedLoopJoin"):
        assert node not in plan, node
    s = plan_summary(out)
    # signature agg + bucket-key window + small-bucket join + hot-path
    # rep aggregation/join + union + distinct (AQE can print nodes
    # twice); the bound guards against a runaway re-plan, not an exact
    # count
    assert s["exchanges"] <= 18, s


def test_roworder_topk_has_no_full_table_window(spark):
    """sort_column_roworder: top-500 must run as TakeOrderedAndProject
    (per-partition top-k + tiny merge); a ROW_NUMBER window over the whole
    table would funnel every row through one reducer."""
    from geoparquet_io_spark.plans import formatted_plan
    from geoparquet_io_spark.queries import REGISTRY

    df = REGISTRY["sort_column_roworder"][0](spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert "TakeOrderedAndProject" in plan, plan


def test_near_dup_is_bucketed_not_all_pairs(spark):
    """embedding_near_dup: candidates meet via an equi-join on the LSH
    bucket key — never a nested-loop / cartesian cross product."""
    from geoparquet_io_spark.plans import formatted_plan
    from geoparquet_io_spark.queries import REGISTRY

    df = REGISTRY["embedding_near_dup"][0](spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_new_tpch_shapes_broadcast_and_no_python(spark):
    """q2/q11/q16/q20: dimensions broadcast, no sort-merge fallback on
    the dimension side, zero python evals (pure relational plans)."""
    from geoparquet_io_spark.plans import plan_summary
    from geoparquet_io_spark.queries import REGISTRY

    for name, min_bc in (
        ("tpch_q2_min_cost_supplier", 3),
        ("tpch_q11_important_stock", 2),
        ("tpch_q16_supplier_part_count", 2),
        ("tpch_q20_potential_promotion", 2),
    ):
        df = REGISTRY[name][0](spark, SF_SMOKE)
        s = plan_summary(df)
        assert s["python_evals"] == 0, name
        assert s["broadcast_joins"] >= min_bc, (name, s)


def test_h3_rollup_single_shuffle_native_key(spark):
    """geo_h3_rollup: the parent bit-arithmetic key stays native — one
    aggregation exchange, no extra python eval beyond the indexing UDF."""
    from geoparquet_io_spark.plans import formatted_plan, plan_summary
    from geoparquet_io_spark.queries import REGISTRY

    df = REGISTRY["geo_h3_rollup"][0](spark, SF_SMOKE)
    s = plan_summary(df)
    # at most the point-encode + latlng->cell kernels; the PARENT bit
    # arithmetic itself must not add a third python projection
    assert s["python_evals"] <= 2
    # one partial-agg shuffle (AQE can surface it twice in the formatted
    # plan: initial + final)
    assert s["exchanges"] <= 2
    assert s["sort_merge_joins"] == 0


def test_q17_threshold_agg_is_part_restricted(spark):
    """q17's per-part threshold aggregates only lineitems of the filtered
    part set (left_semi before groupBy) — the broadcast side stays
    bounded by part-filter selectivity at any SF."""
    from geoparquet_io_spark.plans import formatted_plan
    from geoparquet_io_spark.queries import REGISTRY

    df = REGISTRY["tpch_q17_small_quantity"][0](spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert "LeftSemi" in plan


def test_osgb_reproject_is_map_only(spark):
    """EPSG:27700 datum+projection chain: zero exchanges — a pure
    map-side Arrow-batched transform."""
    from geoparquet_io_spark.plans import plan_summary
    from geoparquet_io_spark.queries import REGISTRY

    df = REGISTRY["geo_reproject_osgb"][0](spark, SF_SMOKE)
    s = plan_summary(df)
    assert s["exchanges"] == 0


def test_r4_query_plans_no_cartesian_no_python(spark):
    """Round-4 operators: banded image near-dup, snapshot CDF, z-order
    key, triangle counting — none may degenerate to a cartesian /
    nested-loop product, and the native-expr ones stay python-free."""
    from geoparquet_io_spark.queries import REGISTRY

    for name in ("multimodal_image_near_dup", "graph_triangles",
                 "sort_zorder_multicolumn"):
        df = REGISTRY[name][0](spark, SF_SMOKE)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
    # zorder key construction is pure codegen (no python eval at all)
    z = REGISTRY["sort_zorder_multicolumn"][0](spark, SF_SMOKE)
    plan = z._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_changes_between_plan_is_keyed_joins(spark, tmp_path):
    from geoparquet_io_spark.operators.maintenance import (changes_between,
                                                           commit_snapshot)

    p = str(tmp_path / "cdfplan")
    spark.range(100).selectExpr("id", "id AS v").write.parquet(p)
    commit_snapshot(spark, p)
    spark.range(100, 120).selectExpr("id", "id AS v") \
        .write.mode("append").parquet(p)
    commit_snapshot(spark, p)
    plan = changes_between(spark, p, "id", 1, 2) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_spatial_join_ships_right_side_as_broadcast_variable(spark):
    """The collected right side must travel as a Spark broadcast (once
    per executor), not closure capture (re-serialized per task): the
    broadcast payload carries the parsed right rows, and the task
    closure stays small."""
    import numpy as np
    from pyspark import SparkContext

    from geoparquet_io_spark.functions import wkb as W
    from geoparquet_io_spark.operators.joins import spatial_join

    left = spark.createDataFrame(
        [(i, bytearray(W.encode_point(float(i % 10), float(i % 7))))
         for i in range(100)], "id long, geometry binary")
    right = spark.createDataFrame(
        [(k, bytearray(W.encode_box_polygon(k - 0.5, -1.0, k + 0.5, 8.0)))
         for k in range(10)], "zone long, geometry binary")

    captured = {}
    orig = SparkContext.broadcast

    def spy(self, value):
        b = orig(self, value)
        captured["value"] = value
        return b

    SparkContext.broadcast = spy
    try:
        out = spatial_join(left, "geometry", None, right, "geometry", None,
                           ["zone"], how="left")
        rows = out.collect()
    finally:
        SparkContext.broadcast = orig
    assert "value" in captured, "right side not shipped via broadcast"
    geoms, envs, attrs = captured["value"]
    assert len(geoms) == 10 and np.asarray(envs).shape == (10, 4)
    # and the join is still correct: every point falls in exactly one box
    assert len(rows) == 100
    assert all(r["zone"] == r["id"] % 10 for r in rows)


def test_minhash_star_edges_plan(spark):
    """Star-edge candidates: equi-join on the band bucket only — no
    cartesian/nested-loop anywhere, no Python in the plan, and the
    bucket aggregation partial-aggregates map-side."""
    from geoparquet_io_spark.operators.dedup import minhash_star_edges
    from geoparquet_io_spark.plans import formatted_plan, plan_summary
    from geoparquet_io_spark.testsupport.tables import load_table

    d = load_table(spark, SF_SMOKE, "documents")
    df = minhash_star_edges(d, "doc_id")
    s = plan_summary(df)
    assert s["python_evals"] == 0
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_minhash_pairs_cap_plan(spark):
    """Hot-bucket-capped candidate pairs: still equi-join only (no
    cartesian/nested-loop), no Python, and the bucket-size window plus
    the chain window add NO exchange beyond the bucket-key shuffle —
    window partitioning and the self-join key are the same columns."""
    from geoparquet_io_spark.operators.dedup import minhash_candidate_pairs
    from geoparquet_io_spark.plans import formatted_plan, plan_summary
    from geoparquet_io_spark.testsupport.tables import load_table

    d = load_table(spark, SF_SMOKE, "documents")
    df = minhash_candidate_pairs(d, "doc_id", max_bucket_size=64)
    s = plan_summary(df)
    assert s["python_evals"] == 0
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # windows over (band, bh) must reuse the bucket-key partitioning:
    # no hashpartitioning exchange on top of another for the same keys
    uncapped = minhash_candidate_pairs(d, "doc_id", max_bucket_size=None)
    base_ex = formatted_plan(uncapped).count("Exchange hashpartitioning")
    capped_ex = plan.count("Exchange hashpartitioning")
    assert capped_ex <= base_ex + 1   # at most the one sizing shuffle


def test_kmeans_iteration_agg_is_map_side_combined(spark):
    """The per-iteration k x dim aggregation must partial-aggregate
    before the exchange (shuffle carries k rows per partition, never
    data rows) and contain no cartesian or python eval beyond the
    single Arrow assignment stage."""
    from pyspark.sql import functions as F

    from geoparquet_io_spark.operators.similarity import (
        _assign_clusters_arrow, as_double_array, ivf_centroids)
    from geoparquet_io_spark.testsupport.tables import load_table

    e = load_table(spark, SF_SMOKE, "embeddings")
    src = e.select(F.lit(0).alias("id"),
                   as_double_array(F.col("embedding")).alias("v"))
    assigned = _assign_clusters_arrow(src, ivf_centroids(64, 4, seed=7))
    agg = assigned.groupBy("cluster").agg(
        F.count("*").alias("__cnt"),
        *[F.sum(F.element_at("v", i + 1)).alias(f"s{i}") for i in range(64)])
    plan = agg._jdf.queryExecution().executedPlan().toString()
    # partial then final hash aggregate around one exchange
    assert plan.count("HashAggregate") >= 2
    assert "CartesianProduct" not in plan
    assert plan.count("ArrowEvalPython") + plan.count("MapInPandas") <= 1


def test_ann_recall_plan_no_cartesian(spark):
    from geoparquet_io_spark.operators.similarity import ann_recall

    approx = spark.createDataFrame([(1, 10)], ["query_id", "neighbor_id"])
    exact = spark.createDataFrame([(1, 10)], ["query_id", "neighbor_id"])
    plan = ann_recall(approx, exact)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_plan_gates_decide_on_nodes_without_jobs(spark):
    """shuffles()/runs_python() answer from node names of the planned
    (never executed) physical plan, AQE-wrapped or not, before and after
    the frame has run, and the decision itself launches no Spark job."""
    import pandas as pd
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from geoparquet_io_spark.plans import runs_python, shuffles
    from geoparquet_io_spark.testsupport.tables import load_table

    @F.pandas_udf("long")
    def plus1(s: pd.Series) -> pd.Series:
        return s + 1

    c = load_table(spark, SF_SMOKE, "customer")
    agg = c.groupBy("c_nationkey").count()
    small = spark.range(30).select(
        F.col("id").cast("int").alias("c_nationkey"))
    cases = {
        "scan": (c, False, False),
        "agg": (agg, True, False),
        "repartition1": (c.repartition(1), False, False),
        "global_window": (c.withColumn("rn", F.row_number().over(
            Window.orderBy("c_custkey"))), False, False),
        "broadcast_join": (c.join(F.broadcast(small), "c_nationkey"),
                           False, False),
        "udf_scan": (c.select(plus1("c_custkey")), False, True),
        "udf_after_agg": (agg.select(plus1("count")), True, True),
    }
    agg.collect()
    sc = spark.sparkContext
    group = "plan-gate-decisions"
    sc.setJobGroup(group, "plan gates")
    try:
        got = {k: (shuffles(df), runs_python(df))
               for k, (df, _, _) in cases.items()}
    finally:
        sc.setJobGroup(None, None)
    assert got == {k: (s, p) for k, (_, s, p) in cases.items()}
    assert sc.statusTracker().getJobIdsForGroup(group) == []


def test_query_execution_has_one_home():
    """Plan inspection lives in plans/: no other library module reaches
    into queryExecution() with a reader of its own."""
    import pathlib

    import geoparquet_io_spark

    root = pathlib.Path(geoparquet_io_spark.__file__).parent
    users = sorted(p.relative_to(root).as_posix()
                   for p in root.rglob("*.py")
                   if "queryExecution()" in p.read_text(encoding="utf-8"))
    assert users == ["plans/__init__.py"]
