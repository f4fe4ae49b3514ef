"""Thin CLI mirroring the reference's command surface (cli/main.py:72)
on top of the Spark engine.  argparse (no click in this container).

Usage examples (mirror `gpio ...`):
  python -m geoparquet_io_spark.cli extract in.parquet out.parquet \\
      --bbox -60,-40,40,60 --columns event_id --where "x > 0" --limit 100
  python -m geoparquet_io_spark.cli add bbox in.parquet out.parquet
  python -m geoparquet_io_spark.cli sort hilbert in.parquet out.parquet
  python -m geoparquet_io_spark.cli partition string in.parquet outdir/ --column event_type
  python -m geoparquet_io_spark.cli inspect summary in.parquet
  python -m geoparquet_io_spark.cli check all in.parquet
  python -m geoparquet_io_spark.cli convert in.csv out.parquet
"""

from __future__ import annotations

import argparse
import json
import sys


def _spark():
    from geoparquet_io_spark.session import get_spark

    return get_spark("gpio-spark-cli")


def _read(spark, path: str):
    import geoparquet_io_spark as gps

    if path.endswith((".csv", ".tsv", ".txt")):
        from geoparquet_io_spark.sources.csv_geo import read_csv

        return read_csv(spark, path)
    if path.endswith((".geojson", ".json")):
        from geoparquet_io_spark.sources.geojson import read_geojson

        return read_geojson(spark, path)
    if path.endswith((".gpkg", ".shp", ".fgb")):
        from geoparquet_io_spark.sources.gdal_formats import read_gdal

        return read_gdal(spark, path)
    return gps.read(spark, path)


def _write(gt, path: str, args) -> None:
    if path.endswith(".csv"):
        from geoparquet_io_spark.sources.csv_geo import write_csv

        write_csv(gt, path)
    elif path.endswith(".geojson"):
        from geoparquet_io_spark.sources.geojson import write_geojson

        write_geojson(gt, path)
    elif path.endswith((".gpkg", ".shp", ".fgb")):
        from geoparquet_io_spark.sources.gdal_formats import write_gdal

        write_gdal(gt, path)
    else:
        kw = {}
        mb = getattr(args, "row_group_mb", None)
        if mb:
            kw["target_row_group_mb"] = mb
        gt.write(path, **kw)


def cmd_extract(args) -> int:
    spark = _spark()
    gt = _read(spark, args.input)
    bbox = tuple(float(v) for v in args.bbox.split(",")) if args.bbox else None
    if bbox is not None and len(bbox) != 4:
        print(json.dumps({"error": "--bbox needs xmin,ymin,xmax,ymax "
                                   f"(got {len(bbox)} values)"}))
        return 2
    cols = args.columns.split(",") if args.columns else None
    excl = args.exclude_columns.split(",") if args.exclude_columns else None
    out = gt.extract(columns=cols, exclude_columns=excl, bbox=bbox,
                     geometry=args.geometry, where=args.where, limit=args.limit)
    _write(out, args.output, args)
    return 0


def cmd_add(args) -> int:
    spark = _spark()
    gt = _read(spark, args.input)
    if args.what == "bbox":
        gt = gt.add_bbox(force=args.force)
    elif args.what == "quadkey":
        gt = gt.add_quadkey(zoom=args.zoom)
    elif args.what == "h3":
        gt = gt.add_h3(resolution=args.resolution)
    elif args.what == "kdtree":
        gt = gt.add_kdtree(iterations=args.iterations)
    elif args.what == "bbox-metadata":
        gt = gt.add_bbox_metadata()
    _write(gt, args.output, args)
    return 0


def cmd_sort(args) -> int:
    spark = _spark()
    gt = _read(spark, args.input)
    if args.how == "hilbert":
        gt = gt.sort_hilbert()
    elif args.how == "quadkey":
        gt = gt.sort_quadkey(zoom=args.zoom)
    elif args.how == "column":
        if not args.column:
            print(json.dumps({"error": "sort column requires --column"}))
            return 2
        gt = gt.sort_column(args.column.split(","), args.desc)
    _write(gt, args.output, args)
    return 0


def cmd_partition(args) -> int:
    spark = _spark()
    gt = _read(spark, args.input)
    kw = dict(skip_analysis=args.skip_analysis, force=args.force)
    if args.how == "string":
        if not args.column:
            # friendly JSON error like cmd_sort's identical case — not
            # a raw Py4J traceback from partition_by_string(None)
            print(json.dumps(
                {"error": "--column is required for string partitioning"}))
            return 2
        files = gt.partition_by_string(args.column, args.output,
                                       chars=args.chars, **kw)
    elif args.how == "quadkey":
        # `is None`, not `or`: an explicit --resolution 0 is a valid
        # level and `or` silently replaced it with the default
        res = 9 if args.resolution is None else args.resolution
        files = gt.partition_by_quadkey(args.output,
                                        partition_resolution=res, **kw)
    elif args.how == "h3":
        res = 8 if args.resolution is None else args.resolution
        files = gt.partition_by_h3(args.output, resolution=res, **kw)
    elif args.how == "kdtree":
        files = gt.partition_by_kdtree(args.output, iterations=args.iterations, **kw)
    print(json.dumps({"files": len(files)}))
    return 0


def cmd_inspect(args) -> int:
    from geoparquet_io_spark.operators.inspect_check import (
        inspect_head,
        inspect_summary,
        inspect_tail,
    )

    if args.what == "summary":
        print(json.dumps(inspect_summary(args.input), indent=2, default=str))
        return 0
    if args.what == "meta":
        # raw footer metadata dump (reference: gpio inspect meta,
        # cli/main.py:1902): geo JSON, other key-value pairs, schema
        import pyarrow.parquet as _pq

        from geoparquet_io_spark.sources.geoparquet import dataset_files

        files = dataset_files(args.input)
        if not files:
            raise FileNotFoundError(args.input)   # as inspect summary does
        f0 = files[0]
        schema = _pq.read_schema(f0)
        kv = {k.decode(): v.decode(errors="replace")
              for k, v in (schema.metadata or {}).items()}
        geo = kv.pop("geo", None)
        print(json.dumps({
            "file": f0,
            "geo": json.loads(geo) if geo else None,
            "key_value_metadata": kv,
            "schema": [{"name": n, "type": str(schema.field(n).type)}
                       for n in schema.names],
        }, indent=2, default=str))
        return 0
    spark = _spark()
    n = args.n or 10
    if args.what == "stats":
        import geoparquet_io_spark as gps

        gps.read(spark, args.input).stats().show(truncate=False)
        return 0
    fn = inspect_tail if args.what == "tail" else inspect_head
    fn(spark, args.input, n).show(n, truncate=False)
    return 0


def cmd_check(args) -> int:
    from geoparquet_io_spark.operators.inspect_check import (
        check_bbox,
        check_compression,
        check_row_groups,
        check_structure,
        validate,
    )

    # granular single-aspect checks (reference: gpio check bbox|row-group|
    # compression, cli/main.py:700,784,914)
    if args.what == "bbox":
        r = check_bbox(args.input)
        print(json.dumps(r, indent=2, default=str))
        return 0 if r["ok"] else 1
    if args.what == "row-group":
        r = check_row_groups(args.input)
        if getattr(args, "fix", False) and r["fix_available"]:
            from geoparquet_io_spark.operators.inspect_check import (
                fix_row_groups,
            )

            r["fixed"] = fix_row_groups(
                args.input, args.fix_output or args.input + ".fixed.parquet")
        print(json.dumps(r, indent=2, default=str))
        return 0 if r["ok"] or "fixed" in r else 1
    if args.what == "bloom":
        from geoparquet_io_spark.operators.inspect_check import (
            check_bloom_filters,
        )

        r = check_bloom_filters(_spark(), args.input)
        print(json.dumps(r, indent=2, default=str))
        return 0 if r["ok"] else 1
    if args.what == "compression":
        r = check_compression(args.input)
        if getattr(args, "fix", False) and r["fix_available"]:
            from geoparquet_io_spark.operators.inspect_check import (
                fix_compression,
            )

            r["fixed"] = fix_compression(
                args.input, args.fix_output or args.input + ".fixed.parquet")
        print(json.dumps(r, indent=2, default=str))
        return 0 if r["ok"] or "fixed" in r else 1

    rep = check_structure(args.input)
    result = {
        "files": rep.num_files,
        "rows": rep.total_rows,
        "row_groups": rep.num_row_groups,
        "bbox_covering": rep.has_bbox_covering,
        "issues": rep.issues,
    }
    if args.what == "all":
        # fold the granular aspect reports into the aggregate verdict
        rg = check_row_groups(args.input)
        comp = check_compression(args.input)
        result["row_group_issues"] = rg["issues"]
        result["compression_issues"] = comp["issues"]
        result["issues"] = result["issues"] + [
            i for i in rg["issues"] + comp["issues"]
            if i not in result["issues"]]
    if args.what in ("all", "spec"):
        result["spec_errors"] = validate(_spark(), args.input)
    if args.what == "spatial":
        import geoparquet_io_spark as gps

        result["spatial_order"] = gps.read(_spark(), args.input).check_spatial_order()
    print(json.dumps(result, indent=2, default=str))
    ordered_ok = result.get("spatial_order", {}).get("ordered", True)
    ok = (not result["issues"] and not result.get("spec_errors")
          and ordered_ok)
    return 0 if ok else 1


def cmd_convert(args) -> int:
    spark = _spark()
    gt = _read(spark, args.input)
    if not args.no_sort:
        # convert defaults to hilbert ordering like the reference
        # (core/convert.py:452-460)
        gt = gt.add_bbox(force=True) if gt.bbox_column is None else gt
        gt = gt.sort_hilbert()
    _write(gt, args.output, args)
    return 0


def cmd_reproject(args) -> int:
    spark = _spark()
    gt = _read(spark, args.input)
    gt = gt.reproject(args.to_crs, src=args.from_crs)
    _write(gt, args.output, args)
    return 0


def cmd_add_admin(args) -> int:
    spark = _spark()
    gt = _read(spark, args.input)
    admin = _read(spark, args.admin)
    gt = gt.add_admin_divisions(admin, levels=tuple(args.levels.split(",")))
    _write(gt, args.output, args)
    return 0


def cmd_partition_admin(args) -> int:
    from geoparquet_io_spark.operators.partition import partition_by_admin

    spark = _spark()
    gt = _read(spark, args.input)
    admin = _read(spark, args.admin)
    files = partition_by_admin(gt, admin, args.levels.split(","), args.output,
                               skip_analysis=args.skip_analysis, force=args.force)
    print(json.dumps({"files": len(files)}))
    return 0


def cmd_publish_stac(args) -> int:
    from geoparquet_io_spark.sources.stac import validate_stac_item, write_stac_item

    item = write_stac_item(args.input, args.output,
                           item_id=args.item_id, asset_href=args.asset_href)
    errs = validate_stac_item(item)
    if errs:
        print(json.dumps({"errors": errs}))
        return 1
    print(json.dumps({"id": item["id"], "bbox": item["bbox"]}))
    return 0


def cmd_benchmark(args) -> int:
    """Benchmark verbs (reference: gpio benchmark run|suite|compare|report,
    cli/main.py:4206,4464-4643)."""
    action = getattr(args, "action", "run") or "run"
    if action in ("run", "suite"):
        import bench

        old = sys.argv
        try:
            sys.argv = ["bench.py"] + (["--check"] if args.check else [])
            bench.main()
        finally:
            sys.argv = old
        return 0
    if action == "compare":
        if not args.baseline or not args.candidate:
            print(json.dumps({"error": "benchmark compare needs BASELINE "
                              "and CANDIDATE result files"}))
            return 2
        a = json.loads(open(args.baseline).read().strip().splitlines()[-1])
        b = json.loads(open(args.candidate).read().strip().splitlines()[-1])
        qa, qb = a.get("queries", {}), b.get("queries", {})
        rows = []
        for name in sorted(set(qa) & set(qb)):
            pct = (qb[name] - qa[name]) / qa[name] * 100.0 if qa[name] else 0.0
            rows.append({"query": name, "baseline_s": qa[name],
                         "candidate_s": qb[name], "delta_pct": round(pct, 1)})
        only = {"baseline_only": sorted(set(qa) - set(qb)),
                "candidate_only": sorted(set(qb) - set(qa))}
        print(json.dumps({"total_baseline_s": a.get("value"),
                          "total_candidate_s": b.get("value"),
                          "queries": rows, **only}, indent=2))
        worst = max((r["delta_pct"] for r in rows), default=0.0)
        return 1 if worst > 25.0 else 0
    if action == "engines":
        # cross-ENGINE race on identical inputs (reference: gpio benchmark
        # compare racing DuckDB vs geopandas/ogr2ogr, core/benchmark.py:
        # 29-370).  Here the engines genuinely present are this Spark
        # engine and DuckDB running each query's oracle SQL on the same
        # parquet tables; row counts are cross-checked per query.
        import os
        import time as _t

        import duckdb

        from geoparquet_io_spark.queries import REGISTRY
        from geoparquet_io_spark.session import get_spark

        sf_dir = args.sf_dir or os.environ.get(
            "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
        names = (args.queries.split(",") if args.queries
                 else [n for n, (fn, sql) in sorted(REGISTRY.items())
                       if sql][:8])
        spark = get_spark("benchmark-engines")
        con = duckdb.connect()
        for t in ("region nation customer supplier part orders lineitem "
                  "events documents embeddings").split():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{sf_dir}/{t}.parquet')")
        rows = []
        for name in names:
            fn, sql = REGISTRY[name]
            if sql is None:
                continue
            df = fn(spark, sf_dir)
            df.count()                      # warm both paths once
            con.execute(sql).fetchall()
            t0 = _t.time()
            n_spark = df.count()
            spark_s = _t.time() - t0
            t0 = _t.time()
            n_duck = len(con.execute(sql).fetchall())
            duck_s = _t.time() - t0
            rows.append({
                "query": name, "rows": n_spark,
                "rows_match": n_spark == n_duck,
                "spark_s": round(spark_s, 3),
                "duckdb_s": round(duck_s, 3),
                "ratio_spark_over_duckdb": round(spark_s / duck_s, 2)
                if duck_s else None,
            })
        print(json.dumps({"sf_dir": sf_dir, "engines": rows}, indent=2))
        return 0 if all(r["rows_match"] for r in rows) else 1
    if action == "report":
        if not args.baseline:
            print(json.dumps({"error": "benchmark report needs a result "
                              "file"}))
            return 2
        doc = json.loads(open(args.baseline).read().strip().splitlines()[-1])
        qs = doc.get("queries", {})
        width = max((len(k) for k in qs), default=5)
        print(f"{'query'.ljust(width)}  seconds")
        for name, sec in sorted(qs.items(), key=lambda kv: -kv[1]):
            print(f"{name.ljust(width)}  {sec:8.3f}")
        print(f"{'TOTAL'.ljust(width)}  {doc.get('value', 0):8.3f} "
              f"(sf={doc.get('sf')})")
        return 0
    raise ValueError(f"unknown benchmark action {action!r}")


def cmd_publish_upload(args) -> int:
    """Copy/publish a local dataset to a (possibly remote) URI.  With the
    Hadoop connectors on the classpath the same distributed writer streams
    straight to s3a/gs/abfs; locally this is a read->write republish that
    preserves footer metadata (reference: gpio publish upload,
    core/upload.py — obstore multipart; here the connector IS the
    transport)."""
    from geoparquet_io_spark.sources.remote import normalize_remote_path

    dest = normalize_remote_path(args.output)
    spark = _spark()
    gt = _read(spark, args.input)
    files = gt.write(dest)
    print(json.dumps({"destination": dest, "files": len(files)}))
    return 0




def cmd_validate(args) -> int:
    """Full spec validation (reference: gpio check spec)."""
    from geoparquet_io_spark.operators.inspect_check import validate

    spark = _spark()
    errs = validate(spark, args.input)
    print(json.dumps({"valid": not errs, "errors": errs}))
    return 1 if errs else 0


def cmd_sample(args) -> int:
    """Deterministic hash sampling / split assignment."""
    from geoparquet_io_spark.geotable import GeoTable
    from geoparquet_io_spark.operators.sampling import sample_by_hash, split_by_hash

    spark = _spark()
    gt = _read(spark, args.input)
    if args.splits:
        weights = {}
        for part in args.splits.split(","):
            name, sep, w = part.strip().partition("=")
            if not sep or not name.strip():
                print(json.dumps({"error": f"bad --splits entry {part!r}; "
                                  "expected name=weight,..."}))
                return 2
            try:
                weights[name.strip()] = float(w)
            except ValueError:
                print(json.dumps({"error": f"bad weight in {part!r}"}))
                return 2
        df = split_by_hash(gt.df, args.key, weights)
    else:
        df = sample_by_hash(gt.df, args.key, args.fraction)
    _write(GeoTable(df, gt.geo), args.output, args)
    return 0


def cmd_asof_join(args) -> int:
    """As-of join input with a right-side table on key + timestamp."""
    from geoparquet_io_spark.geotable import GeoTable
    from geoparquet_io_spark.operators.asof import asof_join, asof_join_broadcast

    spark = _spark()
    gt = _read(spark, args.input)
    rt = _read(spark, args.right)
    fn = asof_join_broadcast if args.broadcast else asof_join
    df = fn(gt.df, rt.df, key=args.key, left_ts=args.left_ts,
            right_ts=args.right_ts)
    _write(GeoTable(df, gt.geo), args.output, args)
    return 0


def cmd_kmeans_train(args) -> int:
    """Distributed Lloyd k-means over an embedding column; prints the
    trained model as JSON (operators/similarity.py:kmeans_fit_distributed)."""
    from geoparquet_io_spark.operators.similarity import kmeans_fit_distributed

    spark = _spark()
    df = spark.read.parquet(args.input)
    cents = kmeans_fit_distributed(
        df, dim=args.dim, n_centroids=args.k, iterations=args.iterations,
        vector_column=args.vector_column, seed=args.seed)
    print(json.dumps({"n_centroids": args.k, "dim": args.dim,
                      "iterations": args.iterations, "centroids": cents}))
    return 0


def cmd_join_size(args) -> int:
    """Estimate an equi-join's output cardinality from CMS sketches
    without executing it (operators/sketches.py:cms_join_size_estimate)."""
    from geoparquet_io_spark.operators.sketches import (
        cms_join_size_estimate, count_min_sketch)

    spark = _spark()
    a = spark.read.parquet(args.left)
    b = spark.read.parquet(args.right)
    est = cms_join_size_estimate(
        count_min_sketch(a, args.key, depth=args.depth, width=args.width),
        count_min_sketch(b, args.key, depth=args.depth, width=args.width),
    ).collect()[0]["est_join_rows"]
    print(json.dumps({"key": args.key, "est_join_rows": int(est),
                      "depth": args.depth, "width": args.width}))
    return 0


def cmd_kmv_overlap(args) -> int:
    """Distinct-overlap (union/intersection/Jaccard) between two
    datasets from KB-scale KMV sketches — no join of the datasets
    (operators/sketches.py:kmv_sketch/kmv_overlap_estimate)."""
    from geoparquet_io_spark.operators.sketches import (
        kmv_overlap_estimate, kmv_sketch)

    spark = _spark()
    a = spark.read.parquet(args.left)
    b = spark.read.parquet(args.right)
    row = kmv_overlap_estimate(
        kmv_sketch(a, args.column, k=args.k),
        kmv_sketch(b, args.column, k=args.k), k=args.k).collect()[0]
    print(json.dumps({"column": args.column, "k": args.k,
                      "union_distinct_est": int(row["union_distinct_est"]),
                      "intersect_est": int(row["intersect_est"]),
                      "jaccard": row["jaccard_micro"] / 1e6}))
    return 0


def cmd_pack_sequences(args) -> int:
    """Concat-and-chunk sequence packing: writes per-document chunk
    placement (operators/sampling.py:pack_sequences)."""
    from geoparquet_io_spark.operators.sampling import pack_sequences

    spark = _spark()
    df = spark.read.parquet(args.input)
    out = pack_sequences(df, max_tokens=args.max_tokens,
                         id_column=args.id_column,
                         token_column=args.token_column)
    out.write.mode("overwrite").parquet(args.output)
    # the summary comes from the just-written files (one cheap column
    # scan) — aggregating `out` would re-execute the whole packing job
    n_chunks = spark.read.parquet(args.output) \
        .agg({"last_chunk": "max"}).collect()[0][0]
    print(json.dumps({"max_tokens": args.max_tokens,
                      "n_chunks": int(n_chunks) + 1 if n_chunks is not None
                      else 0, "output": args.output}))
    return 0


def cmd_leakage_split(args) -> int:
    """Group-aware train/valid/test assignment: near-dup groups never
    straddle splits (operators/sampling.py:leakage_safe_split)."""
    from pyspark.sql import functions as F

    from geoparquet_io_spark.operators.sampling import leakage_safe_split

    weights = {}
    for spec in args.weights.split(","):
        name, _, w = spec.partition("=")
        if not _:
            raise SystemExit(f"bad --weights entry {spec!r} (name=frac)")
        weights[name.strip()] = float(w)
    spark = _spark()
    df = spark.read.parquet(args.input)
    groups = spark.read.parquet(args.groups)
    out = leakage_safe_split(df, args.id_column, groups, weights,
                             salt=args.salt,
                             group_id_column=args.group_id_column,
                             group_rep_column=args.group_rep_column)
    out.write.mode("overwrite").partitionBy("split").parquet(args.output)
    counts = {r["split"]: r["n"] for r in spark.read.parquet(args.output)
              .groupBy("split").agg(F.count("*").alias("n")).collect()}
    print(json.dumps({"weights": weights, "counts": counts,
                      "output": args.output}))
    return 0


def cmd_compact(args) -> int:
    """Bin small files up to a target size (operators/maintenance.py)."""
    from geoparquet_io_spark.operators.maintenance import compact

    spark = _spark()
    report = compact(spark, args.input, args.output,
                     target_file_mb=args.target_mb)
    print(json.dumps(report))
    return 0


def cmd_manifest(args) -> int:
    """Build a (file, rows, bytes, bbox) manifest; optionally report how
    many files a --bbox query would skip."""
    from geoparquet_io_spark.operators.maintenance import (build_manifest,
                                                           prune_files)

    spark = _spark()
    if args.check_stale:
        from geoparquet_io_spark.operators.maintenance import manifest_staleness

        m = spark.read.parquet(args.check_stale)
        rep = manifest_staleness(m, args.input)
        print(json.dumps({k: (v if isinstance(v, bool) else len(v))
                          for k, v in rep.items()}))
        return 0 if rep["fresh"] else 1
    if args.refresh:
        from geoparquet_io_spark.operators.maintenance import (
            refresh_manifest,
        )

        old = spark.read.parquet(args.refresh)
        fresh, rep = refresh_manifest(spark, old, args.input)
        if args.output:
            fresh.coalesce(1).write.mode("overwrite").parquet(args.output)
        print(json.dumps({"files_swept": rep["files_swept"],
                          "files_added": len(rep["files_added"]),
                          "files_removed": len(rep["files_removed"]),
                          "files_resized": len(rep["files_resized"]),
                          "files_total": fresh.count()}))
        return 0
    m = build_manifest(spark, args.input)
    if args.output:
        m.coalesce(1).write.mode("overwrite").parquet(args.output)
    out = {"files": m.count()}
    if args.bbox:
        bbox = tuple(float(v) for v in args.bbox.split(","))
        if len(bbox) != 4:
            print(json.dumps({"error": "--bbox needs xmin,ymin,xmax,ymax"}))
            return 2
        kept, skipped = prune_files(m, bbox)
        out.update({"files_scanned": len(kept), "files_skipped": len(skipped)})
    print(json.dumps(out))
    return 0


def cmd_snapshot(args) -> int:
    """Commit / list / time-travel-read dataset snapshots
    (operators/maintenance.py: commit_snapshot / snapshot_history /
    read_snapshot)."""
    from geoparquet_io_spark.operators.maintenance import (commit_snapshot,
                                                           read_snapshot,
                                                           snapshot_history)

    if args.history:
        hist = snapshot_history(args.input)
        print(json.dumps([{k: h[k] for k in
                           ("version", "note", "committed_at", "n_files",
                            "n_rows", "n_bytes")} for h in hist]))
        return 0
    spark = _spark()
    if args.read is not None:
        version = args.read if args.read > 0 else None
        gt = read_snapshot(spark, args.input, version)
        if args.output:
            gt.write(args.output)
        print(json.dumps({"version": version or "latest",
                          "rows": gt.df.count()}))
        return 0
    rec = commit_snapshot(spark, args.input, note=args.note)
    print(json.dumps({k: rec[k] for k in
                      ("version", "n_files", "n_rows", "n_bytes")}))
    return 0


def cmd_delete(args) -> int:
    """Merge-on-read DELETE / fold-in compaction
    (operators/maintenance.py: delete_where / apply_deletes)."""
    from geoparquet_io_spark.operators.maintenance import (apply_deletes,
                                                           delete_where)

    spark = _spark()
    if args.apply:
        rec = apply_deletes(spark, args.input)
        print(json.dumps({"version": rec["version"], "n_rows": rec["n_rows"],
                          "n_files": rec["n_files"], "folded": True}))
        return 0
    if not args.where or not args.key:
        raise SystemExit("delete requires --where and --key (or --apply)")
    rec = delete_where(spark, args.input, args.where, args.key,
                       note=args.note)
    print(json.dumps({"version": rec["version"],
                      "delete_files": len(rec.get("delete_files", [])),
                      "delete_key": rec.get("delete_key")}))
    return 0


def cmd_vacuum(args) -> int:
    """Delete files unreferenced by the kept snapshots
    (operators/maintenance.py:vacuum)."""
    from geoparquet_io_spark.operators.maintenance import vacuum

    keep = [int(v) for v in args.keep.split(",")] if args.keep else None
    rep = vacuum(args.input, keep_versions=keep, dry_run=args.dry_run,
                 min_age_seconds=args.min_age_seconds)
    print(json.dumps({"dry_run": rep["dry_run"],
                      "kept_versions": rep["kept_versions"],
                      "removed_snapshots": rep["removed_snapshots"],
                      "files_removed": len(rep["files_removed"]),
                      "files_spared_young": len(rep["files_spared_young"]),
                      "files_kept": rep["files_kept"]}))
    return 0


def cmd_raster_info(args) -> int:
    """GeoTIFF inspection without a raster library: shape, dtype,
    georeferencing, EPSG, band stats (functions/tiff.py)."""
    from geoparquet_io_spark.functions.tiff import decode_tiff, geotiff_info

    raw = open(args.input, "rb").read()
    info = geotiff_info(raw)
    out = {"width": info.width, "height": info.height,
           "bands": info.bands, "dtype": info.dtype, "epsg": info.epsg,
           "origin": [info.origin_x, info.origin_y],
           "pixel_size": [info.pixel_w, info.pixel_h]}
    if args.stats:
        arr = decode_tiff(raw)
        band = arr if arr.ndim == 2 else arr[:, :, 0]
        b = band.astype("f8")
        out["band_min"] = float(b.min())
        out["band_max"] = float(b.max())
        out["band_mean"] = round(float(b.mean()), 6)
    print(json.dumps(out))
    return 0


def cmd_diff(args) -> int:
    """Keyed diff of two dataset versions -> per-status counts."""
    from pyspark.sql import functions as F

    from geoparquet_io_spark.operators.merge import dataset_diff

    spark = _spark()
    old = _read(spark, args.old).df
    new = _read(spark, args.new).df
    d = dataset_diff(old, new, args.key.split(","))
    counts = {r["diff_status"]: r["n"] for r in
              d.groupBy("diff_status").agg(F.count("*").alias("n")).collect()}
    print(json.dumps({s: counts.get(s, 0)
                      for s in ("added", "removed", "changed", "unchanged")}))
    return 0


def cmd_distance_join(args) -> int:
    """ST_DWithin join of two point tables (grid-bucketed, no cross
    product); kNN mode with --k."""
    from geoparquet_io_spark.geotable import GeoTable
    from geoparquet_io_spark.operators.joins import (distance_join,
                                                     estimate_knn_radius,
                                                     knn_join)

    spark = _spark()
    lx, ly = args.left_xy.split(",")
    rx, ry = args.right_xy.split(",")
    left = _read(spark, args.left).df
    right = _read(spark, args.right).df
    if args.k:
        if not args.left_id:
            # validate BEFORE estimate_knn_radius — the radius estimate
            # is a full Spark job, wasted on an invalid invocation
            print(json.dumps({"error": "--left-id is required with --k"}))
            return 2
        radius = args.radius or estimate_knn_radius(right, args.k, rx, ry)
        df = knn_join(left, right, args.k, radius, left_id=args.left_id,
                      left_x=lx, left_y=ly, right_x=rx, right_y=ry,
                      tie_columns=[args.tie] if args.tie else None)
    else:
        if not args.radius:
            print(json.dumps({"error": "--radius required without --k"}))
            return 2
        df = distance_join(left, right, args.radius, lx, ly, rx, ry)
    _write(GeoTable(df, None), args.output, args)
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="gpio-spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    e = sub.add_parser("extract")
    e.add_argument("input")
    e.add_argument("output")
    e.add_argument("--bbox")
    e.add_argument("--columns")
    e.add_argument("--exclude-columns", dest="exclude_columns")
    e.add_argument("--geometry")
    e.add_argument("--where")
    e.add_argument("--limit", type=int)
    e.set_defaults(fn=cmd_extract)

    a = sub.add_parser("add")
    a.add_argument("what", choices=["bbox", "quadkey", "h3", "kdtree", "bbox-metadata"])
    a.add_argument("input")
    a.add_argument("output")
    a.add_argument("--force", action="store_true")
    a.add_argument("--zoom", type=int, default=13)
    a.add_argument("--resolution", type=int, default=8)
    a.add_argument("--iterations", type=int, default=4)
    a.set_defaults(fn=cmd_add)

    s = sub.add_parser("sort")
    s.add_argument("how", choices=["hilbert", "quadkey", "column"])
    s.add_argument("input")
    s.add_argument("output")
    s.add_argument("--column")
    s.add_argument("--desc", action="store_true")
    s.add_argument("--zoom", type=int, default=13)
    s.set_defaults(fn=cmd_sort)

    pt = sub.add_parser("partition")
    pt.add_argument("how", choices=["string", "quadkey", "h3", "kdtree"])
    pt.add_argument("input")
    pt.add_argument("output")
    pt.add_argument("--column")
    pt.add_argument("--chars", type=int)
    pt.add_argument("--resolution", type=int)
    pt.add_argument("--iterations", type=int, default=4)
    pt.add_argument("--skip-analysis", dest="skip_analysis", action="store_true")
    pt.add_argument("--force", action="store_true")
    pt.set_defaults(fn=cmd_partition)

    i = sub.add_parser("inspect")
    i.add_argument("what", choices=["summary", "head", "tail", "stats", "meta"])
    i.add_argument("input")
    i.add_argument("-n", type=int)
    i.set_defaults(fn=cmd_inspect)

    c = sub.add_parser("check")
    c.add_argument("what", choices=["all", "spec", "spatial", "compression",
                                    "bbox", "row-group", "bloom"])
    c.add_argument("input")
    c.add_argument("--fix", action="store_true",
                   help="rewrite the file applying the recommended fix "
                        "(compression / row-group only)")
    c.add_argument("--fix-output", dest="fix_output",
                   help="output path for --fix (default: <input>.fixed.parquet)")
    c.set_defaults(fn=cmd_check)

    cv = sub.add_parser("convert")
    cv.add_argument("input")
    cv.add_argument("output")
    cv.add_argument("--no-sort", dest="no_sort", action="store_true")
    cv.add_argument("--row-group-mb", dest="row_group_mb", type=float,
                    help="target compressed MB per row group (64-256 guidance)")
    cv.set_defaults(fn=cmd_convert)

    rp = sub.add_parser("reproject")
    rp.add_argument("input")
    rp.add_argument("output")
    rp.add_argument("--to-crs", dest="to_crs", required=True)
    rp.add_argument("--from-crs", dest="from_crs")
    rp.set_defaults(fn=cmd_reproject)

    aa = sub.add_parser("add-admin-divisions")
    aa.add_argument("input")
    aa.add_argument("output")
    aa.add_argument("--admin", required=True)
    aa.add_argument("--levels", default="country")
    aa.set_defaults(fn=cmd_add_admin)

    pa = sub.add_parser("partition-admin")
    pa.add_argument("input")
    pa.add_argument("output")
    pa.add_argument("--admin", required=True)
    pa.add_argument("--levels", default="country")
    pa.add_argument("--skip-analysis", dest="skip_analysis", action="store_true")
    pa.add_argument("--force", action="store_true")
    pa.set_defaults(fn=cmd_partition_admin)

    ps = sub.add_parser("publish-stac")
    ps.add_argument("input")
    ps.add_argument("output")
    ps.add_argument("--item-id", dest="item_id")
    ps.add_argument("--asset-href", dest="asset_href")
    ps.set_defaults(fn=cmd_publish_stac)

    v = sub.add_parser("validate")
    v.add_argument("input")
    v.set_defaults(fn=cmd_validate)

    sm = sub.add_parser("sample")
    sm.add_argument("input")
    sm.add_argument("output")
    sm.add_argument("--key", required=True)
    sm.add_argument("--fraction", type=float, default=0.1)
    sm.add_argument("--splits", default=None,
                    help="name=weight,... for split assignment")
    sm.set_defaults(fn=cmd_sample)

    aj = sub.add_parser("asof-join")
    aj.add_argument("input")
    aj.add_argument("right")
    aj.add_argument("output")
    aj.add_argument("--key", required=True)
    aj.add_argument("--left-ts", default="ts")
    aj.add_argument("--right-ts", default="ts")
    aj.add_argument("--broadcast", action="store_true")
    aj.set_defaults(fn=cmd_asof_join)

    b = sub.add_parser("benchmark")
    b.add_argument("action", nargs="?", default="run",
                   choices=["run", "suite", "compare", "report", "engines"])
    b.add_argument("baseline", nargs="?",
                   help="bench JSON file (compare/report)")
    b.add_argument("candidate", nargs="?",
                   help="bench JSON file (compare)")
    b.add_argument("--check", action="store_true",
                   help="enforce regression thresholds vs committed baseline")
    b.add_argument("--queries", help="comma-separated registry queries "
                   "(engines action; default: first 8 oracle-paired)")
    b.add_argument("--sf-dir", help="testdata dir (engines action)")
    b.set_defaults(fn=cmd_benchmark)

    pu = sub.add_parser("publish-upload")
    pu.add_argument("input")
    pu.add_argument("output")
    pu.set_defaults(fn=cmd_publish_upload)

    cp = sub.add_parser("compact")
    cp.add_argument("input")
    cp.add_argument("output")
    cp.add_argument("--target-mb", type=float, default=256.0)
    cp.set_defaults(fn=cmd_compact)

    mf = sub.add_parser("manifest")
    mf.add_argument("input")
    mf.add_argument("--output", help="write the manifest table here")
    mf.add_argument("--bbox", help="xmin,ymin,xmax,ymax pruning report")
    mf.add_argument("--check-stale",
                    help="path of a persisted manifest to audit vs the "
                         "current file listing (exit 1 when stale)")
    mf.add_argument("--refresh",
                    help="path of a persisted manifest to refresh "
                         "incrementally (sweeps only added/resized files)")
    mf.set_defaults(fn=cmd_manifest)

    sn = sub.add_parser("snapshot")
    sn.add_argument("input")
    sn.add_argument("--note", default="", help="commit note")
    sn.add_argument("--history", action="store_true",
                    help="list committed snapshots instead of committing")
    sn.add_argument("--read", type=int, nargs="?", const=0, default=None,
                    help="time-travel read this version (omit value for "
                         "latest); prints the row count")
    sn.add_argument("--output", help="with --read: write the snapshot here")
    sn.set_defaults(fn=cmd_snapshot)

    ri = sub.add_parser("raster-info")
    ri.add_argument("input")
    ri.add_argument("--stats", action="store_true",
                    help="also decode the first band for min/max/mean")
    ri.set_defaults(fn=cmd_raster_info)

    dl = sub.add_parser("delete")
    dl.add_argument("input")
    dl.add_argument("--where", help="SQL predicate selecting rows to delete")
    dl.add_argument("--key", help="row-unique key column (equality deletes)")
    dl.add_argument("--note", default="", help="commit note")
    dl.add_argument("--apply", action="store_true",
                    help="fold accumulated deletes into a REPLACE rewrite")
    dl.set_defaults(fn=cmd_delete)

    vc = sub.add_parser("vacuum")
    vc.add_argument("input")
    vc.add_argument("--keep", help="comma-separated versions to keep "
                                   "(default: all committed)")
    vc.add_argument("--dry-run", action="store_true")
    vc.add_argument("--min-age-seconds", type=float, default=3600.0,
                    help="spare unreferenced files younger than this "
                         "(possible in-flight appends); 0 disables")
    vc.set_defaults(fn=cmd_vacuum)

    dj = sub.add_parser("distance-join")
    dj.add_argument("left")
    dj.add_argument("right")
    dj.add_argument("output")
    dj.add_argument("--radius", type=float)
    dj.add_argument("--k", type=int, help="kNN mode: k nearest per left row")
    dj.add_argument("--left-id", help="unique left id column (kNN mode)")
    dj.add_argument("--tie", help="unique right column for deterministic ties")
    dj.add_argument("--left-xy", default="lon,lat")
    dj.add_argument("--right-xy", default="lon,lat")
    dj.set_defaults(fn=cmd_distance_join)

    di = sub.add_parser("diff")
    di.add_argument("old")
    di.add_argument("new")
    di.add_argument("--key", required=True, help="comma-separated key columns")
    di.set_defaults(fn=cmd_diff)

    km = sub.add_parser("kmeans-train")
    km.add_argument("input")
    km.add_argument("--dim", type=int, required=True)
    km.add_argument("--k", type=int, default=8)
    km.add_argument("--iterations", type=int, default=2)
    km.add_argument("--vector-column", default="embedding")
    km.add_argument("--seed", type=int, default=7)
    km.set_defaults(fn=cmd_kmeans_train)

    ko = sub.add_parser("kmv-overlap")
    ko.add_argument("left")
    ko.add_argument("right")
    ko.add_argument("--column", required=True)
    ko.add_argument("--k", type=int, default=1024)
    ko.set_defaults(fn=cmd_kmv_overlap)

    pk = sub.add_parser("pack-sequences")
    pk.add_argument("input")
    pk.add_argument("output")
    pk.add_argument("--max-tokens", type=int, required=True)
    pk.add_argument("--id-column", default="doc_id")
    pk.add_argument("--token-column", default="n_tokens")
    pk.set_defaults(fn=cmd_pack_sequences)

    ls = sub.add_parser("leakage-split")
    ls.add_argument("input")
    ls.add_argument("groups", help="parquet of (id, component) near-dup groups")
    ls.add_argument("output")
    ls.add_argument("--weights", required=True,
                    help="train=0.9,valid=0.05,test=0.05")
    ls.add_argument("--id-column", default="doc_id")
    ls.add_argument("--salt", default="split")
    ls.add_argument("--group-id-column", default="id")
    ls.add_argument("--group-rep-column", default="component")
    ls.set_defaults(fn=cmd_leakage_split)

    js = sub.add_parser("join-size-estimate")
    js.add_argument("left")
    js.add_argument("right")
    js.add_argument("--key", required=True)
    js.add_argument("--depth", type=int, default=4)
    js.add_argument("--width", type=int, default=1024)
    js.set_defaults(fn=cmd_join_size)

    _load_plugins(sub)

    return p


# plugin verbs via package entry points (reference: cli/main.py:109
# `with_plugins(entry_points(group="gpio.plugins"))`) — any installed
# distribution can contribute subcommands without touching this module
PLUGIN_GROUP = "gpio_spark.plugins"


def _load_plugins(subparsers) -> None:
    """Register third-party CLI verbs: each entry point in
    ``gpio_spark.plugins`` resolves to ``register(subparsers)`` which
    adds its own ``add_parser(...)`` verbs (setting ``fn=`` like the
    built-ins).  A broken plugin warns on stderr and is skipped — it
    must not take down the core CLI."""
    # bundled plugins first (same register() contract and the same
    # fault isolation as an external entry point — a broken bundled
    # plugin must not take down the core CLI either)
    import importlib

    from geoparquet_io_spark.plugins import BUNDLED

    for mod_name in BUNDLED:
        try:
            importlib.import_module(mod_name).register(subparsers)
        except Exception as exc:  # noqa: BLE001 — isolate plugin faults
            print(f"warning: bundled plugin {mod_name!r} failed to load: "
                  f"{exc}", file=sys.stderr)
    try:
        from importlib.metadata import entry_points

        eps = entry_points(group=PLUGIN_GROUP)
    except Exception:
        return
    for ep in eps:
        try:
            register = ep.load()
            register(subparsers)
        except Exception as exc:  # noqa: BLE001 — isolate plugin faults
            print(f"warning: CLI plugin {ep.name!r} failed to load: {exc}",
                  file=sys.stderr)


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
