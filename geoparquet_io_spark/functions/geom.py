"""Spark column functions over WKB geometry.

Naming mirrors the DuckDB-spatial surface the reference uses
(SURVEY.md section 2.11; e.g. core/add_bbox_column.py:24-31).  Hot-path
rule: anything expressible natively (bbox struct comparisons, quadkey)
is native; per-geometry WKB work is Arrow-batched pandas UDFs, never
row-at-a-time python UDFs.
"""

from __future__ import annotations

import uuid as _uuid

import pandas as pd
import numpy as np

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql import types as T

_BBOX_T = T.StructType([
    T.StructField("xmin", T.DoubleType()),
    T.StructField("ymin", T.DoubleType()),
    T.StructField("xmax", T.DoubleType()),
    T.StructField("ymax", T.DoubleType()),
])
_XY_T = T.StructType([
    T.StructField("x", T.DoubleType()),
    T.StructField("y", T.DoubleType()),
])

from geoparquet_io_spark.functions import wkb as _wkb
from geoparquet_io_spark.functions import wkt as _wkt
from geoparquet_io_spark.functions import crs as _crs
from geoparquet_io_spark.functions import hilbert as _hilbert

BBOX_SCHEMA = "xmin double, ymin double, xmax double, ymax double"


# --- vectorized point fast path ---------------------------------------------
# little-endian 2-D WKB points are fixed-width (21 bytes); when a batch is
# all points, decode with ONE numpy frombuffer instead of per-row parsing.

_PT_HDR = b"\x01\x01\x00\x00\x00"


def _try_bulk_point_decode(g: pd.Series):
    """(xs, ys, null_mask) when every non-null value is a LE WKB point."""
    vals = g.tolist()
    bufs = []
    nulls = np.zeros(len(vals), dtype=bool)
    for i, b in enumerate(vals):
        if b is None:
            nulls[i] = True
            continue
        bb = bytes(b)
        if len(bb) != 21 or not bb.startswith(_PT_HDR):
            return None
        bufs.append(bb)
    if not bufs:
        return None
    flat = np.frombuffer(b"".join(bufs), dtype=np.uint8).reshape(-1, 21)
    xs_all = flat[:, 5:13].copy().view("<f8").ravel()
    ys_all = flat[:, 13:21].copy().view("<f8").ravel()
    xs = np.full(len(vals), np.nan)
    ys = np.full(len(vals), np.nan)
    xs[~nulls] = xs_all
    ys[~nulls] = ys_all
    return xs, ys, nulls


# --- constructors -----------------------------------------------------------

def _bulk_point_encode(xs: np.ndarray, ys: np.ndarray, nulls: np.ndarray) -> pd.Series:
    """Vectorized little-endian point encoding: header + 16 coord bytes."""
    n = len(xs)
    buf = np.empty((n, 21), dtype=np.uint8)
    buf[:, 0] = 1
    buf[:, 1] = 1
    buf[:, 2:5] = 0
    buf[:, 5:13] = np.ascontiguousarray(xs, dtype="<f8").view(np.uint8).reshape(n, 8)
    buf[:, 13:21] = np.ascontiguousarray(ys, dtype="<f8").view(np.uint8).reshape(n, 8)
    raw = buf.tobytes()
    return pd.Series(
        [None if nulls[i] else raw[i * 21:(i + 1) * 21] for i in range(n)]
    )


@pandas_udf(T.BinaryType())
def st_point(x: pd.Series, y: pd.Series) -> pd.Series:
    xs = x.to_numpy(dtype="f8", na_value=np.nan)
    ys = y.to_numpy(dtype="f8", na_value=np.nan)
    return _bulk_point_encode(xs, ys, np.isnan(xs) | np.isnan(ys))


@pandas_udf(T.BinaryType())
def st_box(xmin: pd.Series, ymin: pd.Series, xmax: pd.Series, ymax: pd.Series) -> pd.Series:
    """Axis-aligned box polygon (ST_MakeEnvelope equivalent,
    reference: core/extract.py:577-579)."""
    out = []
    for a, b, c, d in zip(xmin, ymin, xmax, ymax):
        # pd.isna, not `is None`: Spark hands null doubles to pandas UDFs
        # as NaN — an `is None` check never fires and the box would be a
        # NaN-coordinate polygon that silently fails every intersection
        if pd.isna(a) or pd.isna(b) or pd.isna(c) or pd.isna(d):
            out.append(None)
        else:
            out.append(_wkb.encode_box_polygon(float(a), float(b), float(c), float(d)))
    return pd.Series(out)


@pandas_udf(T.BinaryType())
def st_geomfromtext(t: pd.Series) -> pd.Series:
    return t.map(lambda s: None if s is None else _wkt.from_wkt(s))


@pandas_udf(T.BinaryType())
def st_try_geomfromtext(t: pd.Series) -> pd.Series:
    """TRY_CAST(... AS GEOMETRY) equivalent — invalid WKT -> NULL
    (reference skip_invalid path, core/convert.py:404-423)."""
    def conv(s):
        if s is None:
            return None
        try:
            return _wkt.from_wkt(s)
        except (ValueError, IndexError):
            return None
    return t.map(conv)


# --- accessors --------------------------------------------------------------

@pandas_udf(T.StringType())
def st_astext(g: pd.Series) -> pd.Series:
    return g.map(lambda b: None if b is None else _wkt.to_wkt(bytes(b)))


@pandas_udf(T.DoubleType())
def st_x(g: pd.Series) -> pd.Series:
    fast = _try_bulk_point_decode(g)
    if fast is not None:
        xs, _, nulls = fast
        return pd.Series(np.where(nulls, np.nan, xs)).where(~nulls, None)
    return g.map(lambda b: None if b is None else _wkb.point_xy(bytes(b))[0])


@pandas_udf(T.DoubleType())
def st_y(g: pd.Series) -> pd.Series:
    fast = _try_bulk_point_decode(g)
    if fast is not None:
        _, ys, nulls = fast
        return pd.Series(np.where(nulls, np.nan, ys)).where(~nulls, None)
    return g.map(lambda b: None if b is None else _wkb.point_xy(bytes(b))[1])


def _na_masked(vals: "np.ndarray", names: list) -> pd.DataFrame:
    """NaN cells -> NULL fields.  A NULL (or empty) geometry must yield
    NULL bounds/centroids, NOT NaN: Spark's max()/greatest() rank NaN
    ABOVE every real value, so one NULL-geometry row used to poison
    dataset bounds, Hilbert/Z-order extents, quadkeys (a real-looking
    tile-0 key was fabricated), and spatial-order ratios (NaN avg) —
    NULL is skipped by aggregates and comparisons instead.

    Fast path: batches with no NaN (the overwhelmingly common case —
    clean point tables) return plain float64 columns; building pandas
    nullable-Float64 extension arrays per batch measured ~30% on the
    whole quadkey query at sf0.1.  The masked construction is zero-copy
    (FloatingArray over the existing values + isnan mask)."""
    isnan = np.isnan(vals)
    if not isnan.any():
        return pd.DataFrame(
            {name: vals[:, j] for j, name in enumerate(names)})
    cols = {}
    for j, name in enumerate(names):
        cols[name] = pd.arrays.FloatingArray(
            np.ascontiguousarray(vals[:, j]), isnan[:, j].copy())
    return pd.DataFrame(cols)


@pandas_udf(_BBOX_T)
def st_envelope_struct(g: pd.Series) -> pd.DataFrame:
    """One parse -> all four bounds (vs four ST_XMin/... calls).
    NULL/empty geometry -> NULL fields (see _na_masked)."""
    fast = _try_bulk_point_decode(g)
    if fast is not None:
        xs, ys, _ = fast
        vals = np.column_stack([xs, ys, xs, ys])
        # wkb.geom_envelope's rule: a NaN vertex adds no bounds at all
        vals[np.isnan(xs) | np.isnan(ys)] = np.nan
        return _na_masked(vals, ["xmin", "ymin", "xmax", "ymax"])
    vals = np.full((len(g), 4), np.nan)
    for i, b in enumerate(g):
        if b is not None:
            vals[i] = _wkb.envelope(bytes(b))
    return _na_masked(vals, ["xmin", "ymin", "xmax", "ymax"])


@pandas_udf(_XY_T)
def st_centroid_xy(g: pd.Series) -> pd.DataFrame:
    """NULL/empty geometry -> NULL fields (see _na_masked)."""
    fast = _try_bulk_point_decode(g)
    if fast is not None:
        xs, ys, nulls = fast
        vals = np.column_stack([xs, ys])
        vals[nulls] = np.nan
        return _na_masked(vals, ["x", "y"])
    vals = np.full((len(g), 2), np.nan)
    for i, b in enumerate(g):
        if b is not None:
            vals[i] = _wkb.centroid(bytes(b))
    return _na_masked(vals, ["x", "y"])


@pandas_udf(T.StringType())
def st_geometrytype(g: pd.Series) -> pd.Series:
    return g.map(lambda b: None if b is None else _wkb.geometry_type(bytes(b)))


# --- predicates / measures --------------------------------------------------

@pandas_udf(T.BooleanType())
def st_intersects(a: pd.Series, b: pd.Series) -> pd.Series:
    out = []
    for ba, bb in zip(a, b):
        out.append(None if ba is None or bb is None else _wkb.intersects(bytes(ba), bytes(bb)))
    return pd.Series(out, dtype="object")


def st_intersects_wkt(g: Column, wkt_text: str) -> Column:
    """ST_Intersects(g, ST_GeomFromText('...')) with the literal parsed once
    on the driver and shipped in the UDF closure (cheap broadcast)."""
    other = _wkt.from_wkt(wkt_text)
    geom = _wkb.parse(other)
    env = _wkb.envelope(other)

    @pandas_udf(T.BooleanType())
    def _isects(col: pd.Series) -> pd.Series:
        out = []
        for b in col:
            if b is None:
                out.append(None)
                continue
            bb = bytes(b)
            e = _wkb.envelope(bb)
            if e[0] > env[2] or env[0] > e[2] or e[1] > env[3] or env[1] > e[3]:
                out.append(False)
            else:
                out.append(_wkb._geom_intersects(_wkb.parse(bb), geom))
        return pd.Series(out, dtype="object")

    return _isects(g)


@pandas_udf(T.DoubleType())
def st_distance(a: pd.Series, b: pd.Series) -> pd.Series:
    out = []
    for ba, bb in zip(a, b):
        out.append(None if ba is None or bb is None else _wkb.distance(bytes(ba), bytes(bb)))
    return pd.Series(out, dtype="float64")


# --- transforms -------------------------------------------------------------

def st_transform(g: Column, src, dst, transformer=None) -> Column:
    """Reproject WKB geometry (reference: core/reproject.py:94-160)."""
    fn = transformer or _crs.get_transformer(src, dst)

    @pandas_udf(T.BinaryType())
    def _tf(col: pd.Series) -> pd.Series:
        fast = _try_bulk_point_decode(col)
        if fast is not None:
            xs, ys, nulls = fast
            tx, ty = fn(xs, ys)
            return _bulk_point_encode(tx, ty, nulls)
        out = []
        for b in col:
            if b is None:
                out.append(None)
                continue
            geom = _wkb.parse(bytes(b))
            out.append(_reencode_transformed(geom, fn))
        return pd.Series(out)

    return _tf(g)


def _reencode_transformed(geom: "_wkb.Geom", fn) -> bytes:
    def tf_arr(arr):
        x, y = fn(arr[:, 0], arr[:, 1])
        return np.column_stack([x, y])

    t = geom.gtype
    if t == _wkb.POINT:
        c = tf_arr(geom.parts[0])
        return _wkb.encode_point(float(c[0, 0]), float(c[0, 1]))
    if t == _wkb.LINESTRING:
        return _wkb.encode_linestring(tf_arr(geom.parts[0]))
    if t == _wkb.POLYGON:
        return _wkb.encode_polygon([tf_arr(r) for r in geom.parts])
    if t in (_wkb.MULTIPOINT, _wkb.MULTILINESTRING, _wkb.MULTIPOLYGON, _wkb.GEOMETRYCOLLECTION):
        parts = [_reencode_transformed(c, fn) for c in geom.children]
        hdr = bytes([1]) + t.to_bytes(4, "little") + len(parts).to_bytes(4, "little")
        return hdr + b"".join(parts)
    raise ValueError(f"unsupported geometry type {t}")


# --- ordering keys ----------------------------------------------------------

def st_hilbert(x: Column, y: Column, bounds: tuple[float, float, float, float]) -> Column:
    """Hilbert distance of (x, y) scaled to ``bounds`` — mirrors DuckDB
    ST_Hilbert(geom, envelope) (reference: core/hilbert_order.py:98-113).

    Arrow-batched pandas UDF over the numpy kernel.  For the hot sort
    path use :func:`with_hilbert_key`, which computes the SAME key with
    native JVM expressions (no Python) via staged projections."""
    xmin, ymin, xmax, ymax = (float(v) for v in bounds)

    @pandas_udf(T.LongType())
    def _hk(xs: pd.Series, ys: pd.Series) -> pd.Series:
        xv = xs.to_numpy(dtype="f8", na_value=np.nan)
        yv = ys.to_numpy(dtype="f8", na_value=np.nan)
        keys = _hilbert.hilbert_key(np.nan_to_num(xv), np.nan_to_num(yv), xmin, ymin, xmax, ymax)
        return pd.Series(keys)

    return _hk(x, y)


def with_hilbert_key(df, x: Column, y: Column,
                     bounds: tuple[float, float, float, float],
                     out: str):
    """Append Hilbert key column ``out`` with NATIVE JVM expressions —
    zero Python, zero Arrow transfer, so the range-sort's double
    evaluation (sampling pass + shuffle write) costs plain codegen
    arithmetic.

    Uses the public-domain bit-parallel xy->d algorithm (rawrunprotected
    "hilbert_curves": prefix-scan rounds at shifts 1/2/4/8 + Morton
    interleave) instead of the 16-step state loop.  Each round is
    materialized as a REAL projection — the intermediate a/b/c/d
    columns are referenced several times by the next round, so
    Catalyst's CollapseProject keeps the stages separate and the
    expression tree stays linear (a single nested Column expression
    multiplies ~4x per round and hangs analysis; a HOF-aggregate state
    loop was measured 3x slower than Python).  The rounds are emitted
    as ONE SQL statement (a CTE per round over a temp view) rather
    than chained ``withColumns`` calls: every eager Dataset creation
    re-analyzes the whole growing plan and every Column operator is a
    py4j round trip, which together cost ~1.3 s of pure driver time
    per query build — one ``spark.sql`` pays one analysis and two py4j
    calls for identical Catalyst expressions (~0.1 s).  Verified
    bit-identical to the numpy loop kernel across the grid (tests).
    Nulls/NaN take COORDINATE 0.0 (like st_hilbert's nan_to_num) —
    i.e. the grid cell containing 0.0 within the extent (mid-extent
    for symmetric bounds), a deterministic placement, not cell 0."""
    xmin, ymin, xmax, ymax = (float(v) for v in bounds)
    n = (1 << _hilbert.ORDER) - 1

    def grid(v: Column, lo: float, hi: float) -> Column:
        span = hi - lo
        if span <= 0:
            return F.lit(0).cast("long")
        clean = F.when(v.isNull() | F.isnan(v), F.lit(0.0)).otherwise(v)
        scaled = F.floor((clean - F.lit(lo)) / F.lit(span) * F.lit(float(n))
                         + F.lit(0.5))
        return F.least(F.lit(n), F.greatest(F.lit(0), scaled)).cast("long")

    t = "__hb_"
    while any(cname.startswith(t) for cname in df.columns) \
            or out.startswith(t):
        # never clobber pre-existing columns (user data or a prior
        # failed run) — or the OUTPUT name itself: an out like
        # '__hb_key' matched the prefix-based cleanup drop below and
        # the just-added key column silently vanished
        t = "_" + t
    # Stage 0 stays in the DataFrame API (x/y are Column objects); the
    # bit-twiddle rounds below reference only the two grid columns.
    df = df.withColumns({t + "x": grid(x.cast("double"), xmin, xmax),
                         t + "y": grid(y.cast("double"), ymin, ymax)})

    def q(name: str) -> str:
        return "`" + name.replace("`", "``") + "`"

    def sr(c: str, k: int) -> str:
        return f"shiftright({c}, {k})"

    M = str(0xFFFF)
    gx, gy = q(t + "x"), q(t + "y")

    def cte(label: str, cols: dict[str, str]) -> str:
        body = ", ".join(f"{e} AS {q(t + name)}"
                         for name, e in cols.items())
        return f"{q(t + label)} AS (SELECT *, {body} FROM {{prev}})"

    stages = []
    stages.append(cte("s1", {
        "a": f"({gx} ^ {gy})",
        "b": f"({M} ^ ({gx} ^ {gy}))",
        "c": f"({M} ^ ({gx} | {gy}))",
        "d": f"({gx} & ({gy} ^ {M}))",
    }))
    a, b, c, d = (q(t + k) for k in "abcd")
    stages.append(cte("s2", {
        "A1": f"({a} | {sr(b, 1)})",
        "B1": f"({sr(a, 1)} ^ {a})",
        "C1": f"(({sr(c, 1)} ^ ({b} & {sr(d, 1)})) ^ {c})",
        "D1": f"((({a} & {sr(c, 1)}) ^ {sr(d, 1)}) ^ {d})",
    }))
    for i, sh in enumerate((2, 4, 8), start=1):
        a, b, c, d = (q(t + k + str(i)) for k in "ABCD")
        stages.append(cte(f"s{i + 2}", {
            f"A{i + 1}": f"(({a} & {sr(a, sh)}) ^ ({b} & {sr(b, sh)}))",
            f"B{i + 1}": f"(({a} & {sr(b, sh)}) ^ "
                         f"({b} & {sr(f'({a} ^ {b})', sh)}))",
            f"C{i + 1}": f"({c} ^ (({a} & {sr(c, sh)}) ^ "
                         f"({b} & {sr(d, sh)})))",
            f"D{i + 1}": f"({d} ^ (({b} & {sr(c, sh)}) ^ "
                         f"(({a} ^ {b}) & {sr(d, sh)})))",
        }))
    C, D = q(t + "C4"), q(t + "D4")
    stages.append(cte("s6", {
        "i0": f"({gx} ^ {gy})",
        "fa": f"({C} ^ {sr(C, 1)})",
        "fb": f"({D} ^ {sr(D, 1)})",
    }))
    i0, fa, fb = (q(t + k) for k in ("i0", "fa", "fb"))
    stages.append(cte("s7", {
        "i1": f"({fb} | ({M} ^ ({i0} | {fa})))",
    }))

    def interleave(label: str) -> None:
        # Morton bit-spread, one named column per step: the nested
        # Column form duplicated the whole subtree 4x per step in the
        # plan; naming each step keeps the expressions linear.
        masks = (0x00FF00FF, 0x0F0F0F0F, 0x33333333, 0x55555555)
        for j, (shl, m) in enumerate(zip((8, 4, 2, 1), masks), start=1):
            prev = q(t + (label if j == 1 else f"{label}{j - 1}"))
            stages.append(cte(f"s_{label}{j}", {
                f"{label}{j}": f"(({prev} | shiftleft({prev}, {shl})) & {m})",
            }))
        return None

    interleave("i0")
    interleave("i1")
    key = (f"CAST((shiftleft({q(t + 'i14')}, 1) | {q(t + 'i04')}) "
           f"AS BIGINT)")

    view = t + "v_" + _uuid.uuid4().hex
    spark = df.sparkSession
    df.createOrReplaceTempView(view)
    try:
        prev = q(view)
        parts = []
        for s in stages:
            parts.append(s.format(prev=prev))
            prev = s.split(" AS ", 1)[0]
        if out in df.columns and not out.startswith(t):
            # match withColumn(out, key): replace in place, keep order
            final_cols = [key + " AS " + q(out)
                          if cname == out else q(cname)
                          for cname in df.columns
                          if not cname.startswith(t)]
        else:
            final_cols = [q(cname) for cname in df.columns
                          if not cname.startswith(t)]
            final_cols.append(key + " AS " + q(out))
        sql = ("WITH " + ",\n".join(parts)
               + f"\nSELECT {', '.join(final_cols)} FROM {prev}")
        return spark.sql(sql)
    finally:
        spark.catalog.dropTempView(view)


# --- native bbox helpers (no UDF — these MUST stay in codegen) --------------

def bbox_struct(xmin: Column, ymin: Column, xmax: Column, ymax: Column) -> Column:
    """STRUCT_PACK(xmin := ..., ...) equivalent
    (reference: core/add_bbox_column.py:24-31)."""
    return F.struct(
        xmin.alias("xmin"), ymin.alias("ymin"), xmax.alias("xmax"), ymax.alias("ymax")
    )


def bbox_intersects(bbox: Column, xmin: float, ymin: float, xmax: float, ymax: float) -> Column:
    """Covering-column fast path: pure min/max comparisons that Catalyst
    pushes to Parquet row-group stats (reference: core/extract.py:554-585)."""
    return (
        (bbox["xmax"] >= F.lit(xmin))
        & (bbox["xmin"] <= F.lit(xmax))
        & (bbox["ymax"] >= F.lit(ymin))
        & (bbox["ymin"] <= F.lit(ymax))
    )


@pandas_udf(T.DoubleType())
def st_area(g: pd.Series) -> pd.Series:
    return pd.Series(
        [None if b is None else _wkb.area(bytes(b)) for b in g],
        dtype="float64")


@pandas_udf(T.DoubleType())
def st_length(g: pd.Series) -> pd.Series:
    return pd.Series(
        [None if b is None else _wkb.length(bytes(b)) for b in g],
        dtype="float64")


def st_simplify(g: Column, tolerance: float) -> Column:
    """Douglas-Peucker simplification at a literal tolerance (closure-
    preserving for rings; see functions/wkb.py:simplify)."""
    tol = float(tolerance)

    @pandas_udf(T.BinaryType())
    def _simp(col: pd.Series) -> pd.Series:
        return col.map(
            lambda b: None if b is None else _wkb.simplify(bytes(b), tol))

    return _simp(g)


@pandas_udf(T.IntegerType())
def st_npoints(g: pd.Series) -> pd.Series:
    return pd.Series(
        [None if b is None else _wkb.npoints(bytes(b)) for b in g],
        dtype="object")


@pandas_udf(T.BinaryType())
def st_convexhull(g: pd.Series) -> pd.Series:
    return g.map(lambda b: None if b is None else _wkb.convex_hull(bytes(b)))


def st_buffer_point(x: Column, y: Column, radius, segments: int = 32) -> Column:
    """Point buffer as a regular n-gon polygon (WKB).  ``radius`` may be
    a literal float or a per-row Column."""
    n = int(segments)
    r_col = radius if isinstance(radius, Column) else F.lit(float(radius))

    @pandas_udf(T.BinaryType())
    def _buf(xs: pd.Series, ys: pd.Series, rs: pd.Series) -> pd.Series:
        out = []
        for xv, yv, rv in zip(xs, ys, rs):
            # pd.isna: Spark nulls arrive as NaN in pandas UDFs, and a
            # NaN coordinate/radius would emit an all-NaN ring
            out.append(None if pd.isna(xv) or pd.isna(yv) or pd.isna(rv)
                       else _wkb.buffer_point(float(xv), float(yv), float(rv), n))
        return pd.Series(out, dtype="object")

    return _buf(x, y, r_col)
