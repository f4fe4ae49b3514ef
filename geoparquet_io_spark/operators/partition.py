"""Partition writers (SURVEY.md 2.10).

The reference's partitioning is a per-value loop of full-scan COPYs
(core/partition_common.py:708-778) — O(distinct values) scans.  Here every
strategy funnels into ONE hive-partitioned write: derive the key column,
preflight-analyze it, shuffle once on the key, and let the executor-side
pyarrow writers emit `col=value/` files with per-file footer metadata.
Semantics preserved (file-per-value, hive naming, preflight guardrails,
covering metadata); the loop is not.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from geoparquet_io_spark.operators.stats import analyze_partition_strategy

DEFAULT_QUADKEY_COLUMN_RESOLUTION = 13  # reference: core/constants.py:12-18
DEFAULT_QUADKEY_PARTITION_RESOLUTION = 9


def _checked_write(gt, key_column, path: str, skip_analysis: bool,
                   force: bool, **kw) -> list[str]:
    """Guardrailed hive write shared by every partition writer.
    ``key_column`` may be one name or a list (multi-level writes are
    analyzed over the FULL level tuple — checking only the first level
    let country x region writes blow past MAX_PARTITIONS unchecked)."""
    keys = [key_column] if isinstance(key_column, str) else list(key_column)
    if not skip_analysis:
        # pin the derived-key frame: the preflight groupBy and the write
        # would otherwise BOTH evaluate the (often UDF-heavy) key plan
        df = gt.df.localCheckpoint(eager=False)
        gt = gt._wrap(df)
        akey = keys[0] if len(keys) == 1 else F.struct(*keys)
        analysis = analyze_partition_strategy(gt.df, akey)
        if analysis.errors and not force:
            raise ValueError(
                "pathological partition strategy: "
                + "; ".join(analysis.errors)
                + " (pass force=True or skip_analysis=True)"
            )
    return gt.write(path, partition_by=keys, **kw)


def partition_by_string(gt, column: str, path: str, chars: int | None = None,
                        skip_analysis: bool = False, force: bool = False,
                        **kw) -> list[str]:
    """Partition on a column value or its LEFT(col, chars) prefix
    (reference: core/partition_by_string.py:46)."""
    work = gt
    key = column
    if chars is not None:
        key = f"{column}_prefix"
        work = gt._wrap(gt.df.withColumn(key, F.substring(F.col(column), 1, chars)))
    return _checked_write(work, key, path, skip_analysis, force, **kw)


def partition_by_quadkey(
    gt, path: str,
    partition_resolution: int = DEFAULT_QUADKEY_PARTITION_RESOLUTION,
    column_resolution: int = DEFAULT_QUADKEY_COLUMN_RESOLUTION,
    skip_analysis: bool = False, force: bool = False, **kw,
) -> list[str]:
    """Quadkey-prefix partitioning (reference: core/partition_by_quadkey.py:123).
    Adds the quadkey column (res ``column_resolution``) when missing, then
    partitions on its ``partition_resolution``-char prefix."""
    if partition_resolution > column_resolution:
        raise ValueError(
            f"partition_resolution {partition_resolution} exceeds "
            f"column_resolution {column_resolution}: the prefix would "
            "silently be the coarser column key")
    work = gt
    if "quadkey" not in work.df.columns:
        work = work.add_quadkey(zoom=column_resolution)
    key = f"quadkey_{partition_resolution}"
    # a PRE-EXISTING quadkey column built at a lower zoom than the
    # requested prefix would silently yield coarser keys under a lying
    # quadkey_N directory name — assert the length per row (map-side,
    # free next to the substring); NULL keys pass through to the hive
    # default partition as before
    qk = F.col("quadkey")
    prefix = F.when(qk.isNull(), F.lit(None).cast("string")) \
        .when(F.length(qk) >= partition_resolution,
              F.substring(qk, 1, partition_resolution)) \
        .otherwise(F.raise_error(F.concat(
            F.lit("quadkey column is coarser than partition_resolution="
                  f"{partition_resolution} (key "), qk,
            F.lit(") — rebuild it with add_quadkey(zoom>="
                  f"{partition_resolution})"))).cast("string"))
    work = work._wrap(work.df.withColumn(key, prefix))
    return _checked_write(work, key, path, skip_analysis, force, **kw)


def partition_by_h3(gt, path: str, resolution: int = 8,
                    skip_analysis: bool = False, force: bool = False,
                    **kw) -> list[str]:
    """One directory per H3 cell (reference: core/partition_by_h3.py:97)."""
    work = gt if "h3" in gt.df.columns else gt.add_h3(resolution=resolution)
    return _checked_write(work, "h3", path, skip_analysis, force, **kw)


def partition_by_kdtree(gt, path: str, iterations: int = 4,
                        skip_analysis: bool = False, force: bool = False,
                        **kw) -> list[str]:
    """2^iterations balanced cells (reference: core/partition_by_kdtree.py:112)."""
    work = gt if "kdtree_cell" in gt.df.columns else gt.add_kdtree(iterations=iterations)
    return _checked_write(work, "kdtree_cell", path, skip_analysis, force, **kw)


def partition_by_admin(gt, admin, levels: list[str], path: str,
                       prefix: str = "admin:", skip_analysis: bool = False,
                       force: bool = False, **kw) -> list[str]:
    """Hierarchical admin partitioning: spatial-join enrich then one
    multi-level hive write (reference: core/partition_admin_hierarchical.py:422)."""
    enriched = gt.add_admin_divisions(admin, levels=levels, prefix=prefix)
    cols = [f"{prefix}{lv}" for lv in levels]
    # hive dir names cannot hold ':'; rename to plain level names
    df = enriched.df
    for c, lv in zip(cols, levels):
        df = df.withColumnRenamed(c, lv)
    work = gt._wrap(df)
    # shared guardrail (checkpoints the enriched frame, analyzes the
    # FULL level tuple, injects per-file bbox)
    return _checked_write(work, levels, path, skip_analysis, force, **kw)
