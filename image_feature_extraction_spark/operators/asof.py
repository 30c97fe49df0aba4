"""Point-in-time (as-of) join — the engine's core custom operator.

Re-expresses the reference's coordinate-based resampling
(/root/reference/tools/Resample.cxx:83-99, ExtractWindow.cxx:143-150 — for
each target coordinate take the nearest/preceding source sample) as a
distributed as-of join: for each left row (entity, t) attach the right row
with the greatest right.ts <= t (backward; forward/nearest variants mirror).
Zero temporal leakage: a matched right timestamp NEVER exceeds the left
timestamp in backward mode.

Physical strategies (``asof_join_auto`` picks one by a bounded
right-side row-count probe):

1. ``asof_join`` — the entity-window merge, all in the JVM, for a right
   side of any size. Left rows and right payload rows are unioned and
   partitioned by the ``by`` keys alone (one exchange). Each direction is
   one ``last(ignorenulls)`` over a running frame: backward walks time
   ascending, forward walks it descending, nearest and interpolate
   combine the two, and cubic first gives every right row its stencil
   neighbour in each walk. A running frame costs O(n) per partition.
   Limit: one entity's whole history is one task. Spark's window buffer
   spills to disk, so memory stays safe, but wall time is bounded by the
   hottest entity.

2. ``asof_join_broadcast`` — for a SMALL right side (dimension/stats
   table): broadcast + map-side vectorized searchsorted, ZERO shuffle of
   the left side; its batch function (``asof_broadcast_stage``) chains
   with other Arrow batch functions inside one mapInArrow stage, and its
   right-side index and Broadcast are reused while the right side's
   files are unchanged. This is the 10^12-left-rows x 10^5-right-rows
   production shape.

Directions: backward / forward / nearest, "interpolate" (linear
interpolation between the bracketing samples, reference N8) and "cubic"
(non-uniform Catmull-Rom over a 4-point stencil) on both strategies.
Among duplicate right timestamps, backward matches the greatest payload
and forward the least (Spark struct ordering: null smallest, NaN
greatest). Both return a matched NaN payload as NaN and a null one as
null. Spark cannot order a map, so duplicate right timestamps that differ
only in a map payload tie (broadcast: only in a map or struct payload).

DuckDB's native ASOF JOIN is the correctness oracle for all of them.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import file_stamps, map_in_arrow


def _as_list(x):
    return [x] if isinstance(x, str) else list(x)


def _dt_naive(series):
    """tz-aware (TIMESTAMP ltz) pandas series -> UTC wall-clock naive;
    pass-through otherwise. np.issubdtype raises on DatetimeTZDtype, so tz
    is handled before any numpy dtype check."""
    import pandas as pd

    if isinstance(series.dtype, pd.DatetimeTZDtype):
        return series.dt.tz_convert("UTC").dt.tz_localize(None)
    return series


def _ts_np_series(series):
    """Pandas time/number series -> float64 epoch-seconds array. Null/NaT
    timestamps come back as NaN (astype int64 of NaT would silently give
    int64-min, i.e. 'before everything' — a forward match on a null ts)."""
    import numpy as np

    series = _dt_naive(series)
    if np.issubdtype(series.dtype, np.datetime64):
        arr = series.to_numpy().astype("datetime64[us]")
        out = arr.astype(np.int64) / 1e6
        out[np.isnat(arr)] = np.nan
        return out
    return series.to_numpy(dtype=np.float64)


def _spark_array_key(v):
    """Order-equivalent nested tuple for one array cell: replicates Spark's
    ArrayType ascending ordering (elementwise, null element smallest,
    shorter-prefix smaller) with plain Python tuples, which pandas CAN sort
    — ndarray cells themselves raise 'unhashable type' inside sort_values.
    None (a null array) is returned as None so na_position applies."""
    import numpy as np

    if v is None:
        return None
    return tuple(
        (0,)
        if e is None
        else (1, _spark_array_key(e))
        if isinstance(e, (list, tuple, np.ndarray))
        else (1, e)
        for e in v
    )


def _tuple_sortable(dt) -> bool:
    """True when a Spark type's pandas cells can participate in the
    duplicate-ts tie-break sort: atomic types directly, arrays (nested
    arrays included) via _spark_array_key. Map/Struct payloads are the
    only exclusion — for those the stable sort keeps input order."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    while isinstance(dt, ArrayType):
        dt = dt.elementType
    return not isinstance(dt, (MapType, StructType))


def _spark_orderable(df: DataFrame, col: str) -> bool:
    """Whether Spark can ORDER BY column ``col`` of ``df``, by Spark's own
    rule (RowOrdering.isOrderable): not a map, nor a struct or array with
    a map anywhere inside."""
    jvm = df.sparkSession.sparkContext._jvm
    jtype = df._jdf.schema().apply(col).dataType()
    return jvm.org.apache.spark.sql.catalyst.expressions.RowOrdering.isOrderable(jtype)


_NAN = "__asof_nan_"


def _nan_flags(right: DataFrame, rcols):
    """isnan() of each float right column, to collect next to it: pandas
    holds null and NaN alike, but Spark orders null smallest and NaN
    greatest, and _dup_ts_sort follows Spark. The flag (false for null)
    also tells the two apart in the broadcast output."""
    from pyspark.sql.types import DoubleType, FloatType

    return [
        F.isnan(c).alias(_NAN + c)
        for c in rcols
        if isinstance(right.schema[c].dataType, (DoubleType, FloatType))
    ]


def _dup_ts_sort(rp, head_cols, payload_cols, rschema):
    """Deterministic duplicate-timestamp sort of the broadcast index
    build: order by (keys, ts, payload...) replicating
    asof_join's struct ordering (backward matches the greatest payload
    among duplicate right timestamps, forward the least; null payload =
    smallest, hence na_position='first', and a NaN flagged by _nan_flags
    greatest, like Spark). Array-typed payload columns — which pandas
    cannot natively order — are sorted via order-equivalent nested
    tuples; Map/Struct payloads are excluded from the tie-break
    (documented limitation: among duplicate timestamps differing ONLY in
    a map/struct payload the stable sort keeps input order)."""
    from pyspark.sql.types import ArrayType

    keys = list(head_cols)
    assigns = {}
    for c in payload_cols:
        dt = rschema[c].dataType
        if not _tuple_sortable(dt):
            continue
        if isinstance(dt, ArrayType):
            sk = "__asof_sk_" + c
            assigns[sk] = rp[c].map(_spark_array_key, na_action="ignore")
            keys.append(sk)
        else:
            if _NAN + c in rp:
                keys.append(_NAN + c)
            keys.append(c)
    if assigns:
        rp = rp.assign(**assigns)
    rp = rp.sort_values(keys, kind="stable", na_position="first")
    return rp.drop(columns=list(assigns))


def _np_asof_match(rts, t, direction: str, tolerance):
    """Vectorized as-of matcher against one entity's sorted right ts array.

    Returns (ok_mask, sel) for backward/forward/nearest — sel[i] indexes rts
    where ok — or (ok_mask, (bi, fi, frac)) for interpolate, where the
    output value is vb + (vf - vb) * frac (exact hits give frac == 0),
    or (ok_mask, (i0, i1, i2, i3)) for cubic.

    A NaN left timestamp never matches (searchsorted would otherwise
    place NaN after every right row — a spurious backward match against
    the LAST right row, violating the leakage contract). Callers must
    keep NaN out of rts (right rows with null ts are dropped at index
    build)."""
    import numpy as np

    t_ok = ~np.isnan(t)
    back = np.searchsorted(rts, t, side="right") - 1
    if direction == "cubic":
        # Catmull-Rom stencil (reference default interpolator is a cubic
        # spline, tools/ExtractWindow.cxx:134-141): the bracketing pair
        # (i1, i2) plus one sample on each side. Rows short of the full
        # 4-point stencil (including exact hits at the hull boundary) are
        # null — no extrapolation, same hull rule as 'interpolate'.
        n = len(rts)
        fwd = np.searchsorted(rts, t, side="left")
        ok = t_ok & (back >= 1) & (fwd <= n - 2)
        i1 = np.clip(back, 0, max(n - 1, 0))
        i2 = np.clip(fwd, 0, max(n - 1, 0))
        i0 = np.clip(i1 - 1, 0, None)
        i3 = np.clip(i2 + 1, 0, max(n - 1, 0))
        if n == 0:
            return ok & False, (i0, i1, i2, i3)
        if tolerance is not None:
            ok &= np.maximum(t - rts[i1], rts[i2] - t) <= tolerance
        return ok, (i0, i1, i2, i3)
    if direction == "interpolate":
        fwd = np.searchsorted(rts, t, side="left")
        ok = t_ok & (back >= 0) & (fwd < len(rts))
        bi = np.clip(back, 0, None)
        fi = np.clip(fwd, 0, len(rts) - 1)
        tb, tf = rts[bi], rts[fi]
        if tolerance is not None:
            ok &= np.maximum(t - tb, tf - t) <= tolerance
        # expression tree mirrors asof_join's Catalyst expression exactly
        # (IEEE-identical): frac = (t - tb) / (tf - tb), 0 when tf == tb
        denom = tf - tb
        frac = np.where(denom > 0, (t - tb) / np.where(denom > 0, denom, 1.0), 0.0)
        return ok, (bi, fi, frac)
    if direction == "backward":
        sel = back
    else:
        fwd = np.searchsorted(rts, t, side="left")
        fwd = np.where(fwd < len(rts), fwd, -1)
        if direction == "forward":
            sel = fwd
        else:  # nearest, backward wins ties
            bd = np.where(back >= 0, t - rts[np.clip(back, 0, None)], np.inf)
            fd = np.where(fwd >= 0, rts[np.clip(fwd, 0, None)] - t, np.inf)
            sel = np.where(bd <= fd, back, fwd)
    if tolerance is not None:
        dist = np.where(sel >= 0, np.abs(t - rts[np.clip(sel, 0, None)]), np.inf)
        sel = np.where(dist <= tolerance, sel, -1)
    sel = np.where(t_ok, sel, -1)
    return sel >= 0, sel


def _cubic_eval(t, t0, t1, t2, t3, y0, y1, y2, y3, where=None):
    """Non-uniform Catmull-Rom: cubic Hermite on the bracketing interval
    [t1, t2] with chordal central-difference tangents m1 = (y2-y0)/(t2-t0),
    m2 = (y3-y1)/(t3-t1) — the classic non-uniform Catmull-Rom form, which
    reduces to the textbook uniform spline on an even grid and reproduces
    exact hits (s==0 -> y1, s==1 -> y2).

    One expression tree for both strategies: numpy arrays with
    ``where=np.where`` (the default) in the broadcast batch function,
    Spark Columns with a CASE WHEN ``where`` in asof_join. The DuckDB
    oracle SQL (plans/queries_datapipe._ASOF_CUBIC_SQL) mirrors it TERM FOR
    TERM, so all three produce IEEE-identical doubles. Degenerate spacings
    are defined, not errors: h == 0 (exact hit on a duplicated bracket)
    returns y1; a zero-width tangent window drops that tangent (slope 0).
    No division ever sees a zero divisor, which ANSI-mode Spark would
    raise on."""
    import numpy as np

    where = where or np.where
    h = t2 - t1
    s = (t - t1) / where(h > 0, h, 1.0)
    s2 = s * s
    s3 = s2 * s
    dt20 = t2 - t0
    dt31 = t3 - t1
    m1 = where(dt20 > 0, (y2 - y0) / where(dt20 > 0, dt20, 1.0), 0.0)
    m2 = where(dt31 > 0, (y3 - y1) / where(dt31 > 0, dt31, 1.0), 0.0)
    poly = (
        (2.0 * s3 - 3.0 * s2 + 1.0) * y1
        + ((s3 - 2.0 * s2 + s) * h) * m1
        + (-2.0 * s3 + 3.0 * s2) * y2
        + ((s3 - s2) * h) * m2
    )
    return where(h > 0, poly, y1)


def _resolve_output_cols(
    left_cols: list,
    right: DataFrame,
    on: str,
    by_l: list,
    right_cols,
    suffix: str,
    include_right_on: bool,
    direction: str,
):
    """Shared strategy prologue: defaulted right columns, output renames,
    and the argument validations every strategy needs (kept in ONE place
    so the two physical strategies cannot drift):

    - right_cols must not contain `on` or a `by` key (a duplicate alias is
      an ambiguous-attribute error three plans later; include_right_on is
      the supported way to get the matched right timestamp);
    - interpolate requires numeric right columns (asof_join's cast would
      silently null strings while numpy would crash) and cannot return a
      single matched right timestamp.

    Returns (rcols, out_rnames, right_on_out).
    """
    from pyspark.sql.types import NumericType

    if direction not in ("backward", "forward", "nearest", "interpolate", "cubic"):
        raise ValueError(f"unknown as-of direction {direction!r}")
    rcols = _as_list(right_cols) if right_cols is not None else [
        c for c in right.columns if c not in set(by_l) | {on}
    ]
    bad = [c for c in rcols if c == on or c in by_l]
    if bad:
        raise ValueError(
            f"right_cols must not contain the join keys {bad}; use "
            "include_right_on=True for the matched right timestamp"
        )
    if direction in ("interpolate", "cubic"):
        if include_right_on:
            raise ValueError(
                f"{direction} blends multiple right rows; there is no "
                "single matched right timestamp to include"
            )
        non_numeric = [
            c for c in rcols
            if not isinstance(right.schema[c].dataType, NumericType)
        ]
        if non_numeric:
            raise ValueError(
                f"{direction} requires numeric right columns; got {non_numeric}"
            )
    out_rnames = [c + suffix if c in left_cols else c for c in rcols]
    right_on_out = f"{on}{suffix}" if include_right_on else None
    return rcols, out_rnames, right_on_out


def _ts_double(df: DataFrame, on: str):
    """Any orderable time column -> double (epoch seconds for timestamps).
    TIMESTAMP_NTZ has no direct double cast in Spark 4; route via timestamp
    (session timezone is pinned to UTC in session.py, so this is stable).
    A NaN time becomes null, so it never matches — Spark would otherwise
    order it after every time, and broadcast treats it as null."""
    from pyspark.sql.types import TimestampNTZType

    c = F.col(on)
    if isinstance(df.schema[on].dataType, TimestampNTZType):
        c = c.cast("timestamp")
    return F.nanvl(c.cast("double"), F.lit(None).cast("double"))


def _sql_where(cond, a, b):
    """np.where for Spark Columns: _cubic_eval's ``where``."""
    return F.when(cond, a).otherwise(b)


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str = "ts",
    by="entity_id",
    right_cols=None,
    direction: str = "backward",
    tolerance: float | None = None,
    suffix: str = "_right",
    bucket_width: float | None = None,
    include_right_on: bool = False,
) -> DataFrame:
    """Entity-window as-of join, all in the JVM. See module docstring.

    ``bucket_width`` is accepted and ignored, for callers that still pass
    it.

    direction="interpolate" (reference N8: linear interpolation between
    grid samples, tools/Resample.cxx:83-99, ExtractWindow.cxx:134-150)
    is a RESAMPLING mode: the forward bracket reads a later-timestamped
    right row, so it is NOT leakage-free — use it for grid alignment /
    signal reconstruction, never for training-feature generation (where
    backward is the only safe direction; same caveat applies to
    "forward" and "nearest"). It lerps every right column between the
    backward and forward matches:
    value = vb + (vf - vb) * (t - tb) / (tf - tb), exact hits return the
    sample itself, and rows outside the right-side hull (no bracket on
    either side) return null — no extrapolation. Right columns must be
    numeric and are emitted as double. With a tolerance, rows where either
    bracketing sample is farther than `tolerance` from t are nulled.

    direction="cubic" (the reference's default 3rd-order interpolator,
    tools/ExtractWindow.cxx:134-141) evaluates the non-uniform Catmull-Rom
    of _cubic_eval over the bracketing pair plus one right row on each
    side, with the same caveats, the same hull rule (null short of the
    full 4-point stencil) and the same tolerance rule as interpolate.
    """
    by_l = _as_list(by)
    rcols, out_rnames, right_on_out = _resolve_output_cols(
        left.columns, right, on, by_l, right_cols, suffix, include_right_on, direction
    )

    # Right rows are renamed so self-lineage (left and right derived from
    # one scan) can't collide on attribute names. Null right timestamps are
    # unmatchable and null BY keys never join under SQL equality (the
    # oracle's ASOF ... ON a.k = b.k), so both are dropped; left rows with
    # a null ts or key come back unmatched. The payload struct leads with
    # the ts, so struct order ranks duplicate right timestamps by payload.
    P = "_r_"
    r_by = [P + c for c in by_l]
    r_ts = _ts_double(right, on)
    r_ok = r_ts.isNotNull()
    for c in by_l:
        r_ok = r_ok & F.col(c).isNotNull()

    def pstruct(cols):
        return F.struct(
            r_ts.alias("_p_ts"), F.col(on).alias("_p_on"),
            *[F.col(c).alias(P + c) for c in cols],
        )

    # Spark cannot order a map (nor a struct or array with one inside), so
    # when a payload column is such a type the walks are ordered by a key
    # struct _k without it; _p is still what they fill. Duplicate right
    # timestamps that differ only in such a column tie.
    orderable = [c for c in rcols if _spark_orderable(right, c)]
    okey = "_p" if orderable == rcols else "_k"
    pcols = {"_p": pstruct(rcols), okey: pstruct(orderable)}
    rpay = right.where(r_ok).select(
        *[F.col(c).alias(rb) for c, rb in zip(by_l, r_by)],
        r_ts.alias("_ts_d"),
        *[col.alias(k) for k, col in pcols.items()],
    )

    lkeep = left.columns
    u = left.select(
        *[F.col(c).alias(rb) for c, rb in zip(by_l, r_by)],
        _ts_double(left, on).alias("_ts_d"),
        F.lit(1).alias("_tag"),
        *[F.lit(None).cast(rpay.schema[k].dataType).alias(k) for k in pcols],
        *[F.col(c).alias("_l_" + c) for c in lkeep],
    ).unionByName(
        rpay.select(
            *r_by, "_ts_d", F.lit(0).alias("_tag"), *pcols,
            *[F.lit(None).cast(left.schema[c].dataType).alias("_l_" + c) for c in lkeep],
        )
    )

    # Both fills are last(ignorenulls) over a running frame, O(n) per
    # partition. Right rows (_tag 0) sort before left rows at an equal ts,
    # so matches are inclusive. Backward walks time ascending and takes the
    # greatest payload among duplicate right timestamps; forward walks it
    # descending and takes the least. NULLS FIRST keeps a null-ts left row
    # ahead of every right row in the forward walk too.
    part = Window.partitionBy(*r_by)
    ob = part.orderBy(F.col("_ts_d").asc(), F.col("_tag").asc(), F.col(okey).asc())
    of = part.orderBy(
        F.col("_ts_d").desc_nulls_first(), F.col("_tag").asc(), F.col(okey).desc()
    )
    running = (Window.unboundedPreceding, Window.currentRow)
    if direction == "cubic":
        # Each right row first takes the right row just before it in the
        # walk as its stencil neighbour (y0 backward, y3 forward), then the
        # running fill carries the pair: (y1, y0) backward, (y2, y3)
        # forward. Neighbour and fill share one walk's sort.
        def carry(df, o, out):
            prev = F.last("_p", ignorenulls=True).over(
                o.rowsBetween(Window.unboundedPreceding, -1)
            )
            pair = F.when(F.col("_tag") == 0, F.struct(F.col("_p").alias("y"), prev.alias("n")))
            df = df.select("*", pair.alias("_q"))
            fill = F.last("_q", ignorenulls=True).over(o.rowsBetween(*running))
            return df.select("*", fill.alias(out)).drop("_q")

        filled = carry(carry(u, ob, "_fb"), of, "_ff").where(F.col("_tag") == 1)
        t = F.col("_ts_d")
        stencil = ("_fb.n", "_fb.y", "_ff.y", "_ff.n")
        ts = [F.col(q + "._p_ts") for q in stencil]
        ok = ts[0].isNotNull() & ts[3].isNotNull()
        if tolerance is not None:
            ok = ok & (F.greatest(t - ts[1], ts[2] - t) <= F.lit(float(tolerance)))
        sel = [F.col("_l_" + c).alias(c) for c in lkeep]
        for c, oc in zip(rcols, out_rnames):
            ys = [F.col(f"{q}.{P}{c}").cast("double") for q in stencil]
            val = _cubic_eval(t, *ts, *ys, where=_sql_where)
            sel.append(F.when(ok, val).alias(oc))
        return filled.select(*sel)

    fills = []
    if direction in ("backward", "nearest", "interpolate"):
        fills.append(F.last("_p", ignorenulls=True).over(ob.rowsBetween(*running)).alias("_fb"))
    if direction in ("forward", "nearest", "interpolate"):
        fills.append(F.last("_p", ignorenulls=True).over(of.rowsBetween(*running)).alias("_ff"))
    filled = u.select("*", *fills).where(F.col("_tag") == 1)

    if direction == "interpolate":
        t = F.col("_ts_d")
        tb = F.col("_fb._p_ts")
        tf = F.col("_ff._p_ts")
        ok = F.col("_fb").isNotNull() & F.col("_ff").isNotNull()
        if tolerance is not None:
            ok = ok & (F.greatest(t - tb, tf - t) <= F.lit(float(tolerance)))
        # exact hit -> tb == tf == t -> frac 0 -> the sample itself
        frac = F.when(tf > tb, (t - tb) / (tf - tb)).otherwise(F.lit(0.0))
        sel = [F.col("_l_" + c).alias(c) for c in lkeep]
        for c, oc in zip(rcols, out_rnames):
            vb = F.col(f"_fb.{P}{c}").cast("double")
            vf = F.col(f"_ff.{P}{c}").cast("double")
            sel.append(F.when(ok, vb + (vf - vb) * frac).alias(oc))
        return filled.select(*sel)

    if direction == "backward":
        chosen = F.col("_fb")
    elif direction == "forward":
        chosen = F.col("_ff")
    else:  # nearest: pandas semantics — backward wins ties
        bd = F.col("_ts_d") - F.col("_fb._p_ts")
        fd = F.col("_ff._p_ts") - F.col("_ts_d")
        chosen = (
            F.when(F.col("_fb").isNull(), F.col("_ff"))
            .when(F.col("_ff").isNull(), F.col("_fb"))
            .when(bd <= fd, F.col("_fb"))
            .otherwise(F.col("_ff"))
        )
    if tolerance is not None:
        dist = F.abs(F.col("_ts_d") - chosen["_p_ts"])
        chosen = F.when(dist <= F.lit(float(tolerance)), chosen)
    filled = filled.withColumn("_m", chosen)

    sel = [F.col("_l_" + c).alias(c) for c in lkeep] + [
        F.col(f"_m.{P}{c}").alias(oc) for c, oc in zip(rcols, out_rnames)
    ]
    if right_on_out:
        sel.append(F.col("_m._p_on").alias(right_on_out))
    return filled.select(*sel)


def asof_join_broadcast(left: DataFrame, right: DataFrame, **opts) -> DataFrame:
    """As-of join for a SMALL right side: broadcast + map-side searchsorted.

    The big left side is never shuffled — each task matches its rows against
    a broadcast dict {entity: (sorted ts array, payload arrays)} with one
    vectorized np.searchsorted per (batch, entity). This is the strategy for
    the dominant production shape (10^12-row fact vs a per-entity-per-hour
    stats/dimension table): zero exchange, one narrow mapInArrow stage
    (chained, see session.map_in_arrow). Options (on, by, right_cols,
    direction, tolerance, suffix, include_right_on, max_right_rows) are
    those of asof_broadcast_stage.

    A right side read from unchanged local files is collected and
    broadcast once per SparkContext, not once per call: a second join
    against it runs no Spark job while it is built and reuses the
    Broadcast (see asof_broadcast_stage for the cache key and when it
    applies).

    Mirrors the reference's grid-alignment resample where the TARGET grid is
    dense and the SOURCE samples are sparse (tools/Resample.cxx:83-99).
    """
    return map_in_arrow(left, *asof_broadcast_stage(left.schema, right, **opts))


class _IndexCache:
    """The right-side index asof_broadcast_stage built last in one
    SparkContext, under its key, with the driver's hit and miss counts.
    One entry: every caller joins one right side at a time, and it keeps
    at most one index (its Broadcast) alive beyond the DataFrames that use
    it. ``lock`` guards it against driver threads building plans at once."""

    def __init__(self):
        self.key = None
        self.built = None
        self.hits = 0
        self.misses = 0
        self.lock = threading.Lock()


def _index_cache(sc) -> _IndexCache:
    # kept on the context object, so a new SparkContext starts empty and a
    # Broadcast never outlives the context that made it (dict.setdefault is
    # atomic, so racing threads get one cache)
    return vars(sc).setdefault("_ife_asof_index", _IndexCache())


def asof_index_cache_stats(spark) -> dict:
    """Driver-side counters of the broadcast as-of index cache of
    ``spark``'s context: ``hits`` (index and Broadcast reused) and
    ``misses`` (collected and broadcast, cacheable or not)."""
    cache = _index_cache(spark.sparkContext)
    with cache.lock:
        return {"hits": cache.hits, "misses": cache.misses}


def _file_scans_only(right: DataFrame, plan) -> bool:
    """Whether every leaf of the analyzed ``plan`` is a file scan (a file
    source read through the v1 or the v2 API), and no expression in it
    reads the clock (current_timestamp() and the like): the data of such a
    plan changes only with its files."""
    jvm = right.sparkSession.sparkContext._jvm
    if plan.containsPattern(jvm.org.apache.spark.sql.catalyst.trees.TreePattern.CURRENT_LIKE()):
        return False
    leaves = plan.collectLeaves()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        kind = leaf.getClass().getSimpleName()
        if kind == "LogicalRelation":
            ok = leaf.relation().getClass().getSimpleName() == "HadoopFsRelation"
        elif kind == "DataSourceV2Relation":
            ok = jvm.java.lang.Class.forName(
                "org.apache.spark.sql.execution.datasources.v2.FileTable"
            ).isInstance(leaf.table())
        else:
            ok = False
        if not ok:
            return False
    return True


def _index_key(right: DataFrame, on: str, by_l: list, rcols: list, max_right_rows: int,
               blend: bool):
    """Cache key of a right side's index, or None when its data can change
    under an unchanged key: a plan leaf that is not a file scan (in-memory
    rows, a JDBC or other non-file source), a clock read, a nondeterministic
    plan (rand(), a nondeterministic UDF), no input files, or a file that
    cannot be stat-ed (a remote store)."""
    plan = right._jdf.queryExecution().analyzed()
    if not plan.deterministic() or not _file_scans_only(right, plan):
        return None
    stamps = file_stamps(right.inputFiles())
    if stamps is None:
        return None
    return right.semanticHash(), stamps, tuple(by_l), on, tuple(rcols), max_right_rows, blend


def _build_index(right: DataFrame, on: str, by_l: list, rcols: list, max_right_rows: int,
                 blend: bool):
    """Collect (counted, bounded) and index the right side on the driver
    and broadcast the index. Returns (Broadcast of {key: (sorted ts,
    payload arrays, null masks)}, the float columns that carry isnan
    flags, {column: pandas dtype} or None when no row has a timestamp).
    The columns that can hold a NaN (float payloads, every column of a
    blend) carry a null mask."""
    import pandas as pd

    # Known pandas round-trip limitation: a NULLABLE integer right column
    # travels as float64, so int64 values above 2^53 in a column that also
    # has nulls lose precision; the JVM strategy (asof_join) is exact for
    # that shape.
    rp = (
        right.select(*by_l, on, *rcols, *_nan_flags(right, rcols))
        .limit(max_right_rows + 1)
        .toPandas()
    )
    if len(rp) > max_right_rows:
        raise ValueError(
            f"asof_join_broadcast: right side exceeds {max_right_rows} rows; "
            "use asof_join instead (asof_join_auto picks automatically)"
        )
    nan_cols = {c for c in rcols if _NAN + c in rp}
    rschema = {f.name: f for f in right.schema.fields}
    index: dict = {}
    # right rows with a null timestamp are unmatchable — drop them before
    # the index build (NaN in a sorted array corrupts searchsorted)
    rp = rp[rp[on].notna()]
    if len(rp):
        # secondary sort on the payload columns (see _dup_ts_sort): among
        # duplicate right timestamps, backward deterministically matches
        # the greatest payload and forward the least — same contract as
        # asof_join's struct ordering
        rp = _dup_ts_sort(rp, [*by_l, on], rcols, rschema)
        for key, grp in rp.groupby(by_l, sort=False):
            k = key if isinstance(key, tuple) else (key,)
            payload = {
                c: (
                    _dt_naive(grp[c]).to_numpy().astype("datetime64[us]")
                    if pd.api.types.is_datetime64_any_dtype(grp[c].dtype)
                    else grp[c].to_numpy()
                )
                for c in (on, *rcols)
            }
            # pandas holds a null float as NaN: the payload's isnan flag
            # keeps a NaN out of its null mask
            nulls = {
                c: (grp[c].isna() & ~grp[_NAN + c] if c in nan_cols else grp[c].isna())
                .to_numpy()
                for c in rcols
                if blend or c in nan_cols
            }
            index[k] = (_ts_np_series(grp[on]), payload, nulls)
    # dtypes only — keeping `rp` would hold the whole collected right side
    # in the cache, and capturing it would cloudpickle it into every task
    dtypes = {c: rp[c].dtype for c in (on, *rcols)} if len(rp) else None
    return right.sparkSession.sparkContext.broadcast(index), nan_cols, dtypes


def _right_index(right: DataFrame, on: str, by_l: list, rcols: list, max_right_rows: int,
                 blend: bool):
    """_build_index, memoized in the right side's SparkContext under
    _index_key. A new cacheable key replaces the entry, whose Broadcast is
    unpersisted, never destroyed: a DataFrame built earlier may still read
    it, and Spark ships it again when one does."""
    cache = _index_cache(right.sparkSession.sparkContext)
    key = _index_key(right, on, by_l, rcols, max_right_rows, blend)
    with cache.lock:
        if key is not None and key == cache.key:
            cache.hits += 1
            return cache.built
        cache.misses += 1
    # built outside the lock: one thread's collect does not hold up another's
    built = _build_index(right, on, by_l, rcols, max_right_rows, blend)
    if key is not None:
        with cache.lock:
            old, cache.key, cache.built = cache.built, key, built
        if old is not None:
            old[0].unpersist()
    return built


def asof_broadcast_stage(
    left_schema,
    right: DataFrame,
    on: str = "ts",
    by="entity_id",
    right_cols=None,
    direction: str = "backward",
    tolerance: float | None = None,
    suffix: str = "_right",
    include_right_on: bool = False,
    max_right_rows: int = 5_000_000,
):
    """Driver half of asof_join_broadcast: collects and indexes the right
    side (bounded by max_right_rows), broadcasts the index, and returns
    (batch function, output schema) for a left side of ``left_schema``.
    The batch function maps an iterator of Arrow record batches to an
    iterator of record batches with the matched right columns appended,
    so it can run as its own mapInArrow stage or be chained with other
    batch functions inside one.

    The right half (collect, sort, per-key index, Broadcast, dtypes) is
    memoized per SparkContext; the batch function is rebuilt on every
    call from ``left_schema``, direction and tolerance. The cache key is
    the right side's ``semanticHash()``, the sorted (path, inode, size,
    mtime_ns) of every file in its ``inputFiles()``, and ``by``, ``on``,
    the resolved right columns, ``max_right_rows`` and whether the
    direction blends. So rewriting a file or adding one to a directory (in
    a newly read DataFrame) rebuilds the index. A right side is cached
    only when every leaf of its analyzed plan is a file scan, the plan is
    deterministic and reads no clock, it has input files and each of them
    can be stat-ed locally; any other right side (``createDataFrame``, a
    JDBC read or a union with one, a ``rand()`` or ``current_timestamp()``
    column, a remote store) is collected on every call. An in-place
    rewrite that keeps a file's size and inode and lands within the file
    system's timestamp granularity is not seen. The cache holds the last
    key only, and a new key unpersists the Broadcast it replaces;
    asof_index_cache_stats reads the hit and miss counts.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import DoubleType, StructField, StructType

    by_l = _as_list(by)
    rcols, out_rnames, right_on_out = _resolve_output_cols(
        left_schema.names, right, on, by_l, right_cols, suffix, include_right_on, direction
    )
    interp = direction == "interpolate"
    cubic = direction == "cubic"
    blend = interp or cubic  # multi-row blends emit double columns

    rschema = {f.name: f for f in right.schema.fields}
    out_fields = list(left_schema.fields) + [
        StructField(oc, DoubleType() if blend else rschema[c].dataType, True)
        for c, oc in zip(rcols, out_rnames)
    ]
    if right_on_out:
        out_fields.append(StructField(right_on_out, rschema[on].dataType, True))
    out_schema = StructType(out_fields)

    b_index, nan_cols, dtypes = _right_index(right, on, by_l, rcols, max_right_rows, blend)
    masked = [c for c in rcols if blend or c in nan_cols]  # columns with a null mask
    lcols = left_schema.names

    # Output gather targets, typed: float/datetime columns get native
    # arrays (NaN/NaT missing); everything else object (None missing).
    gather_cols = list(zip(rcols, out_rnames))
    if right_on_out:
        gather_cols.append((on, right_on_out))

    def _alloc(n: int, dtype):
        if blend:
            return np.full(n, np.nan, dtype=np.float64)
        if pd.api.types.is_datetime64_any_dtype(dtype):
            return np.full(n, np.datetime64("NaT"), dtype="datetime64[us]")
        if np.issubdtype(dtype, np.floating):
            return np.full(n, np.nan, dtype=np.float64)
        return np.full(n, None, dtype=object)

    # Arrow-native stage: heavy payload columns (token arrays) pass through
    # untouched as Arrow buffers; only the key/time columns are converted.
    from pyspark.sql.pandas.types import to_arrow_type

    out_pa_types = {
        oc: to_arrow_type(DoubleType() if blend else rschema[c].dataType)
        for c, oc in gather_cols
    }

    def fn(batches):
        import pyarrow as pa

        idx = b_index.value
        for rb in batches:
            n = len(rb)
            keydf = pa.table(
                [rb.column(lcols.index(c)) for c in [*by_l, on]],
                names=[*by_l, on],
            ).to_pandas()
            lts = _ts_np_series(keydf[on])
            grp_of = keydf.groupby(by_l, sort=False).indices
            targets = (
                {oc: _alloc(n, dtypes[c]) for c, oc in gather_cols}
                if dtypes is not None
                else {}
            )
            null = {oc: np.ones(n, dtype=bool) for c, oc in gather_cols if c in masked}
            for key, rows in grp_of.items():
                k = key if isinstance(key, tuple) else (key,)
                ent = idx.get(k)
                if ent is None:
                    continue
                rts, payload, nulls = ent
                t = lts[rows]
                ok, m = _np_asof_match(rts, t, direction, tolerance)
                if not ok.any():
                    continue
                hit_rows = rows[ok]
                if interp:
                    bi, fi, frac = m
                    for c, oc in gather_cols:
                        vb = payload[c][bi].astype(np.float64)
                        vf = payload[c][fi].astype(np.float64)
                        targets[oc][hit_rows] = (vb + (vf - vb) * frac)[ok]
                        null[oc][hit_rows] = (nulls[c][bi] | nulls[c][fi])[ok]
                elif cubic:
                    tq = [rts[i] for i in m]
                    for c, oc in gather_cols:
                        ys = [payload[c][i].astype(np.float64) for i in m]
                        targets[oc][hit_rows] = _cubic_eval(t, *tq, *ys)[ok]
                        # a null sample nulls the output where SQL would
                        # propagate it: evaluate on NaN-for-null markers
                        marks = [np.where(nulls[c][i], np.nan, 0.0) for i in m]
                        null[oc][hit_rows] = np.isnan(_cubic_eval(t, *tq, *marks))[ok]
                else:
                    hit_sel = m[ok]
                    for c, oc in gather_cols:
                        targets[oc][hit_rows] = payload[c][hit_sel]
                        if oc in null:
                            null[oc][hit_rows] = nulls[c][hit_sel]
            new_cols = []
            for _c, oc in gather_cols:
                t = targets.get(oc)
                if t is None:
                    new_cols.append(pa.nulls(n, out_pa_types[oc]))
                elif oc in null:
                    new_cols.append(pa.array(t, type=out_pa_types[oc], mask=null[oc]))
                else:
                    new_cols.append(
                        pa.array(t, type=out_pa_types[oc], from_pandas=True)
                    )
            yield pa.record_batch(
                list(rb.columns) + new_cols,
                names=lcols + [oc for _c, oc in gather_cols],
            )

    return fn, out_schema


def choose_asof_strategy(right: DataFrame, broadcast_max_rows: int = 2_000_000) -> str:
    """Right-side size probe for asof_join_auto: one bounded count
    (limit(cap+1).count(), so a huge right side never runs a full count).
    Small -> 'broadcast'; otherwise 'window' (asof_join, the JVM merge)."""
    n = right.limit(broadcast_max_rows + 1).count()
    return "broadcast" if n <= broadcast_max_rows else "window"


def asof_join_auto(
    left: DataFrame,
    right: DataFrame,
    on: str = "ts",
    by="entity_id",
    right_cols=None,
    direction: str = "backward",
    tolerance: float | None = None,
    suffix: str = "_right",
    include_right_on: bool = False,
    broadcast_max_rows: int = 2_000_000,
) -> DataFrame:
    """Physical-strategy selector for the as-of join.

    Probes the right side once (bounded count) and picks:

    - 'broadcast' (<= broadcast_max_rows): zero shuffle of the left side,
      map-side searchsorted against a driver-built index;
    - 'window' (otherwise): asof_join, the entity-window merge — a big
      right side never crosses the driver.

    The choice is recorded on the result as ``df._asof_strategy``.
    """
    kw = dict(
        on=on, by=by, right_cols=right_cols, direction=direction,
        tolerance=tolerance, suffix=suffix, include_right_on=include_right_on,
    )
    # persist across probe + (eager) broadcast collect so a DERIVED right
    # side (e.g. an aggregated stats table) is computed once; the lazy
    # strategies have collected nothing yet, so unpersisting only returns
    # to the un-cached status quo — also when a strategy raises
    right = right.persist()
    try:
        strategy = choose_asof_strategy(right, broadcast_max_rows)
        if strategy == "broadcast":
            out = asof_join_broadcast(
                left, right, max_right_rows=broadcast_max_rows, **kw
            )
        else:
            out = asof_join(left, right, **kw)
    finally:
        right.unpersist()
    out._asof_strategy = strategy
    return out
