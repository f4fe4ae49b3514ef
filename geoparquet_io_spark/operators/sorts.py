"""Sort operators (SURVEY.md 2.7).

sort_hilbert  -> core/hilbert_order.py:98-113 (ORDER BY ST_Hilbert over
                 the dataset envelope)
sort_column   -> core/sort_by_column.py:27-80
sort_quadkey  -> core/sort_quadkey.py:30-85

Scale note: a global ORDER BY in Spark is a range-partitioned sort
(sample -> range boundaries -> shuffle -> per-partition sort), which IS
the 100 TB-correct strategy; output files are globally ordered by the
key with file boundaries at range splits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geoparquet_io_spark.functions import geom as G
from geoparquet_io_spark.operators.add_columns import _centroid_lonlat
from geoparquet_io_spark.operators.stats import bounds as _bounds
from geoparquet_io_spark.plans import runs_python


def _pin_before_stats(df: DataFrame, columns: list) -> DataFrame:
    """Pin ``df`` lazily (``localCheckpoint(eager=False)``, no extra
    job) when the rows a statistics pass reads from ``columns`` come out
    of Python.  The stats job then computes the rows once and stores
    them, and the range sort's sample and shuffle-map read the blocks
    instead of re-running the UDF chain (the ``_checked_write`` idiom,
    operators/partition.py).  When the stats read only native columns
    the frame is returned as-is: a pin would block column pruning and
    store every column, including UDF columns the caller later drops.
    A pinned frame has no lineage past the pin, like every
    localCheckpoint."""
    cols = [c for c in columns if c in df.columns]
    if cols and runs_python(df.select(*cols)):
        return df.localCheckpoint(eager=False)
    return df


def sort_hilbert(
    df: DataFrame,
    geometry_column: str | None = None,
    bbox_column: str | None = None,
    key_column: str | None = None,
    keep_key: bool = False,
    env: tuple[float, float, float, float] | None = None,
) -> DataFrame:
    """Order rows along a Hilbert curve over the dataset envelope.

    Without ``env`` the reference's envelope pass runs first (bounds
    agg, then keyed sort, core/hilbert_order.py:80-113).  When the
    column the envelope reads (bbox covering, else geometry) comes out
    of a Python UDF chain, the input is pinned lazily before the pass
    (``_pin_before_stats``): the envelope job runs the chain once and
    stores the rows, and the range sort's sample and shuffle-map read
    them.  Pass ``env`` to skip the pass and the pin — at 100 TB, get
    the envelope in O(footers) from
    ``inspect_check.bounds_from_metadata`` instead of scanning every
    row.  With a bbox covering the key is NATIVE
    (functions/geom.py:with_hilbert_key — bit-parallel JVM expressions,
    no Python), so the range sort's two key evaluations (sampling +
    shuffle write) never leave codegen; without one, the centroid UDF
    feeding the key runs in both.
    """
    if env is None:
        df = _pin_before_stats(df, [bbox_column if bbox_column in df.columns
                                    else geometry_column])
        env = _bounds(df, geometry_column=geometry_column,
                      bbox_column=bbox_column)
    x, y = _centroid_lonlat(df, geometry_column, bbox_column)
    if env is None or any(v is None or v != v for v in env):
        # empty / all-null-geometry input: no envelope exists, and any
        # ordering of zero meaningful keys is correct — return as-is
        # (a supported case: empty writes are supported downstream).
        # NaN (a legacy bbox column built before NULL-geometry masking)
        # is caught too: a NaN span clamps every key to one constant
        # cell and the "sorted" output would be completely unclustered
        return df
    key = key_column or "__hilbert"
    out = G.with_hilbert_key(df, x, y, env, key)
    out = out.orderBy(key)
    if not keep_key:
        out = out.drop(key)
    return out


def sort_column(df: DataFrame, columns: list[str] | str,
                descending: list[bool] | bool | None = None) -> DataFrame:
    """Multi-column sort (reference: core/sort_by_column.py:27-80)."""
    if isinstance(columns, str):
        columns = [columns]
    if descending is None:
        descending = [False] * len(columns)
    if isinstance(descending, bool):
        descending = [descending] * len(columns)
    if len(descending) != len(columns):
        # zip would silently truncate: sort_column(df, ['a','b','c'],
        # descending=[True]) sorted by 'a' alone with no error
        raise ValueError(
            f"descending has {len(descending)} entries for "
            f"{len(columns)} columns")
    exprs = [F.col(c).desc() if d else F.col(c).asc() for c, d in zip(columns, descending)]
    return df.orderBy(*exprs)


def sort_quadkey(
    df: DataFrame,
    geometry_column: str | None = None,
    bbox_column: str | None = None,
    zoom: int = 13,
    keep_column: bool = False,
    quadkey_column: str = "quadkey",
) -> DataFrame:
    """Z-order by quadkey string (reference: core/sort_quadkey.py:30-85).
    Adds the quadkey column when missing (native exprs, codegen-able)."""
    from geoparquet_io_spark.operators.add_columns import add_quadkey

    added = False
    if quadkey_column not in df.columns:
        df = add_quadkey(df, geometry_column, bbox_column, zoom, quadkey_column)
        added = True
    out = df.orderBy(quadkey_column)
    if added and not keep_column:
        out = out.drop(quadkey_column)
    return out


def sort_zorder(
    df: DataFrame,
    geometry_column: str | None = None,
    bbox_column: str | None = None,
    order: int = 16,
    key_column: str | None = None,
    keep_key: bool = False,
) -> DataFrame:
    """Order rows along a Morton (Z-order) curve over the dataset
    envelope — the layout key Delta/Iceberg-style Z-ORDER compaction
    uses.  Same shape as sort_hilbert without ``env``: envelope pass
    (pinned the same way when its input comes out of Python), then a
    range-partitioned global sort.  The key itself is ~10 integer ops
    via magic-mask bit spreading (functions/geokeys.py), all codegen."""
    from geoparquet_io_spark.functions.geokeys import morton_key

    df = _pin_before_stats(df, [bbox_column if bbox_column in df.columns
                                else geometry_column])
    env = _bounds(df, geometry_column=geometry_column, bbox_column=bbox_column)
    x, y = _centroid_lonlat(df, geometry_column, bbox_column)
    if env is None or any(v is None or v != v for v in env):
        return df              # empty / all-null / NaN-extent input
    key = key_column or "__zorder"
    out = df.withColumn(key, morton_key(x, y, env, order=order))
    out = out.orderBy(key)
    if not keep_key:
        out = out.drop(key)
    return out


def sample_rows(df: DataFrame, n: int, seed: int = 42) -> DataFrame:
    """ORDER BY random() LIMIT k equivalent (core/check_spatial_order.py:38-39)."""
    return df.orderBy(F.rand(seed)).limit(n)


def global_rank(df: DataFrame, order_by: list, rank_column: str = "rank",
                num_partitions: int | None = None,
                cache: bool = True) -> DataFrame:
    """Exact 1-based global rank over a TOTAL order without a
    single-partition window (the classic distributed-ranking recipe;
    an un-partitioned ``row_number()`` window funnels the whole table
    through one task — the r1 scale-killer class).

    Strategy:
      1. ``repartitionByRange`` on the order keys (sampled boundaries —
         the same machinery Spark's global ORDER BY uses),
      2. ``sortWithinPartitions`` so each partition is locally ordered,
      3. local ordinal from ``monotonically_increasing_id`` (high bits =
         partition id, low 33 bits = row offset within the partition —
         NO extra shuffle, no window),
      4. per-partition row counts (one tiny aggregate: <= #partitions
         rows to the driver) -> exclusive-prefix offsets folded back in
         as a literal CASE chain.

    ``order_by`` must be a deterministic total order (caller supplies the
    tiebreak columns) or ranks are nondeterministic across retries.

    Caching: the sorted frame is needed twice (counts pass + final).
    With ``cache=True`` (default) it is materialized via
    ``localCheckpoint(eager=True)`` — RDD-level storage the
    ContextCleaner releases automatically when the plan is garbage
    collected, so no permanent CacheManager entry leaks across a
    long-running session (a plain ``persist`` would pin blocks until an
    explicit ``unpersist`` the caller has no handle for).  With
    ``cache=False`` the sort runs twice; both passes are deterministic
    for deterministic input (range boundaries are sampled with fixed
    per-partition seeds), which is the right trade when the sorted
    table is too big to be worth storing (the 100 TB case).
    """
    parts = num_partitions or df.sparkSession.conf.get(
        "spark.sql.shuffle.partitions", "32")
    d = (df.repartitionByRange(int(parts), *order_by)
           .sortWithinPartitions(*order_by)
           .withColumn("__gr_pid", F.spark_partition_id())
           .withColumn("__gr_mid", F.monotonically_increasing_id()))
    if cache:
        d = d.localCheckpoint(eager=True)
    counts = sorted(
        (r["__gr_pid"], r["cnt"])
        for r in d.groupBy("__gr_pid").agg(F.count("*").alias("cnt")).collect()
    )
    offsets: dict[int, int] = {}
    running = 0
    for pid, cnt in counts:
        offsets[pid] = running
        running += cnt
    # local offset = mid - (pid << 33); rank = partition offset + local + 1
    local = F.col("__gr_mid") - F.shiftleft(F.col("__gr_pid").cast("long"), 33)
    off = F.lit(0).cast("long")
    if offsets:
        mapping = F.create_map(
            *[F.lit(v) for kv in offsets.items() for v in kv])
        off = F.coalesce(mapping[F.col("__gr_pid")].cast("long"), off)
    return (d.withColumn(rank_column, (off + local + F.lit(1)).cast("long"))
              .drop("__gr_pid", "__gr_mid"))


def _interleave(ids, bits: int):
    """Bit-interleave k b-bit bucket ids: bit j of column i lands at
    position j*k + i.  Pure shift/or exprs — whole-stage codegen."""
    k = len(ids)
    if bits * k > 63:
        raise ValueError(f"{len(ids)} columns x {bits} bits > 63 key bits")
    key = F.lit(0).cast("long")
    for i, ident in enumerate(ids):
        for j in range(bits):
            key = key.bitwiseOR(
                F.shiftleft(F.shiftrightunsigned(ident, j)
                            .bitwiseAND(F.lit(1)), j * k + i))
    return key


def zorder_by(
    df: DataFrame,
    columns: list[str],
    bits: int = 8,
    method: str = "linear",
    key_column: str | None = None,
    keep_key: bool = False,
    num_partitions: int | None = None,
) -> DataFrame:
    """Generic multi-column Z-ORDER clustering (the Delta/Iceberg
    `OPTIMIZE ... ZORDER BY` layout) for arbitrary column sets.

    Per-column b-bit bucket ids are interleaved into one long key and
    the frame is range-partitioned + sorted on it, so every output file
    covers a narrow range of EVERY clustered column — min/max file
    skipping then works for predicates on any of them, not just the
    leading sort column.

    Bucket id per type/method:
    - numeric, ``method="linear"``: min/max aggregate then uniform
      grid (one extra pass; matches the SQL-expressible oracle);
    - numeric, ``method="range"``: equi-depth boundaries from
      approxQuantile — skew-resistant, the RangePartitioner shape
      Delta's `range_partition_id` uses (driver holds 2^bits - 1
      boundary literals; bits <= 8 keeps that tiny);
    - string (either method): xxhash64 masked to b bits (hash buckets
      spread lexically-clustered values, same trade-off Delta makes).

    Scale: one bounded stats pass + one range-partitioned sort — the
    same shape as sort_hilbert, including its pin when the numeric
    columns come out of Python; no windows, no driver loops over rows.
    """
    from pyspark.sql import types as T_

    if not columns:
        raise ValueError("zorder_by needs at least one column")
    if method not in ("linear", "range"):
        raise ValueError(f"unknown method {method!r}")
    numeric = {}
    for c in columns:
        numeric[c] = isinstance(df.schema[c].dataType,
                                (T_.NumericType, T_.DateType,
                                 T_.TimestampType))

    def _as_double(c: str):
        # dates/timestamps cannot cast straight to double (ANSI
        # analysis error) — go through their epoch representation
        dt = df.schema[c].dataType
        if isinstance(dt, T_.DateType):
            return F.unix_date(F.col(c)).cast("double")
        if isinstance(dt, T_.TimestampType):
            return F.unix_micros(F.col(c)).cast("double")
        return F.col(c).cast("double")
    n = (1 << bits) - 1
    ids = []
    num_cols = [c for c in columns if numeric[c]]
    df = _pin_before_stats(df, num_cols)
    if method == "linear" and num_cols:
        aggs = []
        for c in num_cols:
            # NaN excluded from the extent: Spark max() ranks NaN above
            # every value, so one NaN row made hi NaN, the span NaN, and
            # every bucket collapse to the constant n — that column
            # silently vanished from the interleaved key
            v = _as_double(c)
            vn = F.when(~F.isnan(v), v)
            aggs += [F.min(vn).alias(f"__lo_{c}"),
                     F.max(vn).alias(f"__hi_{c}")]
        row = df.agg(*aggs).collect()[0]
        stats = {c: (row[f"__lo_{c}"], row[f"__hi_{c}"]) for c in num_cols}
    elif method == "range" and num_cols:
        qs = [i / (n + 1) for i in range(1, n + 1)]
        # ONE approxQuantile pass for every numeric column (the per-
        # column dict comprehension ran N full-table sketch jobs)
        proj = df.select(*[_as_double(c).alias(c) for c in num_cols])
        allq = proj.approxQuantile(num_cols, qs, 0.001)
        stats = dict(zip(num_cols, allq))
    for c in columns:
        col = F.col(c)
        if not numeric[c]:
            ids.append(F.pmod(F.xxhash64(col), F.lit(n + 1)).cast("long"))
        elif method == "linear":
            lo, hi = stats[c]
            if lo is None or hi is None or hi == lo:
                ids.append(F.lit(0).cast("long"))
                continue
            # Same formula as geokeys._grid_scale (floor((v-lo)/span*n
            # + 0.5), clamped) but with the CHEAPEST per-row NaN/NULL
            # handling for THIS contract (bucket 0, key stays
            # non-null): nanvl maps NaN onto lo (-> bucket 0), and
            # Spark's least/greatest SKIP null args, so a NULL v falls
            # through the clamp to greatest(0, NULL) = 0.  One nanvl
            # intrinsic per row vs _grid_scale's isnan + two branches +
            # coalesce — the r12 focused A/B measured that stack at
            # +20% on the whole query (min-ratio 1.101 vs the pre-gate
            # pin); this form restores it while keeping NaN/NULL exact.
            v = F.nanvl(_as_double(c), F.lit(float(lo)))
            g = F.floor((v - F.lit(float(lo)))
                        / F.lit(float(hi) - float(lo))
                        * F.lit(float(n)) + F.lit(0.5))
            ids.append(F.least(F.lit(n), F.greatest(F.lit(0), g))
                       .cast("long"))
        else:
            bounds = F.array(*[F.lit(float(b)) for b in stats[c]])
            v = _as_double(c)
            ids.append(F.coalesce(
                F.aggregate(F.filter(bounds, lambda b: b <= v),
                            F.lit(0).cast("long"),
                            lambda acc, _: acc + 1),
                F.lit(0).cast("long")))
    key = key_column or "__zorder_key"
    out = df.withColumn(key, _interleave(ids, bits))
    if num_partitions:
        out = out.repartitionByRange(num_partitions, F.col(key)) \
                 .sortWithinPartitions(key)
    else:
        out = out.orderBy(key)
    if not keep_key:
        out = out.drop(key)
    return out
