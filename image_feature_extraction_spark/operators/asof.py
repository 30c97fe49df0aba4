"""Point-in-time (as-of) join — the engine's core custom operator.

Re-expresses the reference's coordinate-based resampling
(/root/reference/tools/Resample.cxx:83-99, ExtractWindow.cxx:143-150 — for
each target coordinate take the nearest/preceding source sample) as a
distributed as-of join: for each left row (entity, t) attach the right row
with the greatest right.ts <= t (backward; forward/nearest variants mirror).
Zero temporal leakage: a matched right timestamp NEVER exceeds the left
timestamp in backward mode.

Physical strategies (``asof_join_auto`` picks between the first two by a
bounded right-side row-count probe; the rest are opt-in):

1. ``asof_join`` — salted/range-bucketed union-window merge (the 100 TB
   path), 100% JVM-side / whole-stage codegen. Both sides are bucketed on
   (entity, floor(ts/W)). Per (entity, bucket) the latest-earlier /
   earliest-later right payload is computed with one SMALL bucket-level
   aggregation + a bucket-granularity window (rows = #buckets, not
   #events), and replicated into each left bucket ("carry-in boundary
   rows"). Left rows, in-bucket right rows, and carry rows are then
   unioned and merged with one window partitioned by (entity, bucket) —
   so a hot entity's year of history splits into many independent tasks
   and no single task ever sees the whole entity (the skew story a plain
   entity-partitioned window cannot give). Shuffle cost: one exchange of
   left+right on (entity, bucket) plus one tiny exchange of bucket
   aggregates.

2. ``asof_join_broadcast`` — for a SMALL right side (dimension/stats
   table): broadcast + map-side vectorized searchsorted, ZERO shuffle of
   the left side; its batch function (``asof_broadcast_stage``) chains
   with other Arrow batch functions inside one mapInArrow stage. This is
   the 10^12-left-rows x 10^5-right-rows production shape.

3. ``asof_join_cogroup`` — per-partition index slices for a right side
   ABOVE broadcast size with benign entity skew: both sides hash-shuffled
   on entity, per-entity searchsorted merge; each task holds only its
   entities' slice of the index (never the whole 3 GB stats table).

4. ``asof_join_window`` — union + last(ignorenulls) window partitioned by
   entity alone. One shuffle, minimal plan — optimal when no entity's
   history overwhelms one task. Used as a cross-check in tests.

Directions: backward / forward / nearest, plus "interpolate" (linear
interpolation between the bracketing samples, reference N8) on the
bucketed, broadcast, and cogroup strategies.

DuckDB's native ASOF JOIN is the correctness oracle for all of them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import map_in_arrow


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


def _dup_ts_sort(rp, head_cols, payload_cols, rschema, prefix: str = ""):
    """Deterministic duplicate-timestamp sort shared by the broadcast index
    build and the cogroup merge: order by (keys, ts, payload...) replicating
    the bucketed strategy's struct-max/min contract (backward matches the
    greatest payload among duplicate right timestamps, forward the least;
    null payload = smallest, hence na_position='first' like Spark struct
    ordering). Array-typed payload columns — which pandas cannot natively
    order — are sorted via order-equivalent nested tuples; Map/Struct
    payloads are excluded from the tie-break (documented limitation: among
    duplicate timestamps differing ONLY in a map/struct payload the stable
    sort keeps input order)."""
    from pyspark.sql.types import ArrayType

    keys = [prefix + c for c in head_cols]
    assigns = {}
    for c in payload_cols:
        dt = rschema[c].dataType
        col = prefix + c
        if not _tuple_sortable(dt):
            continue
        if isinstance(dt, ArrayType):
            sk = "__asof_sk_" + col
            assigns[sk] = rp[col].map(_spark_array_key, na_action="ignore")
            keys.append(sk)
        else:
            keys.append(col)
    if assigns:
        rp = rp.assign(**assigns)
    rp = rp.sort_values(keys, kind="stable", na_position="first")
    return rp.drop(columns=list(assigns)) if assigns else rp


def _np_asof_match(rts, t, direction: str, tolerance):
    """Vectorized as-of matcher against one entity's sorted right ts array.

    Returns (ok_mask, sel) for backward/forward/nearest — sel[i] indexes rts
    where ok — or (ok_mask, (bi, fi, frac)) for interpolate, where the
    output value is vb + (vf - vb) * frac (exact hits give frac == 0).
    Shared by the broadcast and cogroup physical strategies so their
    semantics cannot drift.

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
        # expression tree mirrors the bucketed Catalyst strategy exactly
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


def _cubic_eval(t, t0, t1, t2, t3, y0, y1, y2, y3):
    """Non-uniform Catmull-Rom: cubic Hermite on the bracketing interval
    [t1, t2] with chordal central-difference tangents m1 = (y2-y0)/(t2-t0),
    m2 = (y3-y1)/(t3-t1) — the classic non-uniform Catmull-Rom form, which
    reduces to the textbook uniform spline on an even grid and reproduces
    exact hits (s==0 -> y1, s==1 -> y2).

    The expression tree here is mirrored TERM FOR TERM by the DuckDB
    oracle SQL (plans/queries_datapipe._asof_cubic_sql) so both engines
    produce IEEE-identical doubles. Degenerate spacings are defined, not
    errors: h == 0 (exact hit on a duplicated bracket) returns y1; a
    zero-width tangent window drops that tangent (slope 0)."""
    import numpy as np

    h = t2 - t1
    s = (t - t1) / np.where(h > 0, h, 1.0)
    s2 = s * s
    s3 = s2 * s
    dt20 = t2 - t0
    dt31 = t3 - t1
    m1 = np.where(dt20 > 0, (y2 - y0) / np.where(dt20 > 0, dt20, 1.0), 0.0)
    m2 = np.where(dt31 > 0, (y3 - y1) / np.where(dt31 > 0, dt31, 1.0), 0.0)
    poly = (
        (2.0 * s3 - 3.0 * s2 + 1.0) * y1
        + ((s3 - 2.0 * s2 + s) * h) * m1
        + (-2.0 * s3 + 3.0 * s2) * y2
        + ((s3 - s2) * h) * m2
    )
    return np.where(h > 0, poly, y1)


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
    so the four physical strategies cannot drift):

    - right_cols must not contain `on` or a `by` key (a duplicate alias is
      an ambiguous-attribute error three plans later; include_right_on is
      the supported way to get the matched right timestamp);
    - interpolate requires numeric right columns (the bucketed cast would
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
    (session timezone is pinned to UTC in session.py, so this is stable)."""
    from pyspark.sql.types import TimestampNTZType

    c = F.col(on)
    if isinstance(df.schema[on].dataType, TimestampNTZType):
        c = c.cast("timestamp")
    return c.cast("double")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str = "ts",
    by="entity_id",
    right_cols=None,
    direction: str = "backward",
    tolerance: float | None = None,
    suffix: str = "_right",
    bucket_width: float = 86400.0,
    include_right_on: bool = False,
) -> DataFrame:
    """Bucketed as-of join. See module docstring.

    bucket_width is in the units of ``cast(on AS double)`` (seconds for
    timestamps). Choose it so one entity-bucket of events fits a task
    comfortably; at 10^12 rows with hourly hot-entity bursts, one day is a
    sane default. Correctness is bucket-width invariant (tested).

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
    """
    by_l = _as_list(by)
    rcols, out_rnames, right_on_out = _resolve_output_cols(
        left.columns, right, on, by_l, right_cols, suffix, include_right_on, direction
    )
    if direction == "cubic":
        # the 4-point stencil needs two rows on EACH side of every probe;
        # the bucketed carry machinery replicates only the single nearest
        # boundary row per side, so cubic lives on the index-based
        # strategies (broadcast/cogroup) where the full per-entity sorted
        # history is addressable
        raise ValueError(
            "direction='cubic' is supported by asof_join_broadcast and "
            "asof_join_cogroup (index-based strategies), not the bucketed "
            "strategy"
        )
    want_back = direction in ("backward", "nearest", "interpolate")
    want_fwd = direction in ("forward", "nearest", "interpolate")

    W = float(bucket_width)
    if not (W > 0):  # also catches NaN
        raise ValueError(
            f"bucket_width must be a positive finite number, got {bucket_width!r}"
            " (a negative width inverts bucket order vs time and silently"
            " loses cross-bucket matches)"
        )
    lf = left.withColumn("_ts_d", _ts_double(left, on)).withColumn(
        "_b", F.floor(F.col("_ts_d") / F.lit(W)).cast("long")
    )
    # Rename right-side columns up front so self-lineage (left and right
    # derived from one scan) can't collide on attribute names.
    P = "_r_"
    right2 = right.select(
        *[F.col(c).alias(P + c) for c in by_l],
        _ts_double(right, on).alias("_ts_d"),
        F.col(on).alias(P + on),
        *[F.col(c).alias(P + c) for c in rcols],
    )
    # null right timestamps are unmatchable (every direction compares
    # against them) and null BY keys never join under SQL equality (the
    # oracle's ASOF ... ON a.k = b.k semantics; the pandas strategies drop
    # them via groupby) — filter both so every strategy agrees. Left rows
    # with null ts/keys land in partitions with no right rows and come
    # back unmatched.
    r_nonnull = F.col("_ts_d").isNotNull()
    for c in by_l:
        r_nonnull = r_nonnull & F.col("_r_" + c).isNotNull()
    rf = right2.where(r_nonnull).withColumn(
        "_b", F.floor(F.col("_ts_d") / F.lit(W)).cast("long")
    )
    r_by = [P + c for c in by_l]
    r_on = P + on
    r_rcols = [P + c for c in rcols]

    # Payload struct: ts first, then the right columns — struct ordering
    # gives a deterministic max/min among equal-timestamp right rows.
    payload = F.struct(
        F.col("_ts_d").alias("_p_ts"),
        F.col(r_on).alias("_p_on"),
        *[F.col(c).alias(c) for c in r_rcols],
    )
    rpay = rf.select(*r_by, "_b", "_ts_d", payload.alias("_p"))
    ptype = rpay.schema["_p"].dataType
    # null-ts left rows live in the NULL bucket; it must never receive a
    # carry (NULL sorts first in the carry window, so a forward carry
    # would hand a null-ts row the globally earliest right payload — a
    # match a null timestamp can't have)
    lbuckets = (
        lf.select(*[F.col(c).alias(rb) for c, rb in zip(by_l, r_by)], "_b")
        .where(F.col("_b").isNotNull())
        .distinct()
    )

    def _carries(forward: bool):
        """Bucket-granularity carry: for each LEFT bucket, the latest right
        payload from strictly-earlier buckets (backward) or the earliest
        from strictly-later buckets (forward). Window rows = #buckets."""
        if forward:
            agg = rpay.groupBy(*r_by, "_b").agg(F.min("_p").alias("_p"))
            marker_tag = 2  # marker sorts AFTER same-bucket right aggregates
        else:
            agg = rpay.groupBy(*r_by, "_b").agg(F.max("_p").alias("_p"))
            marker_tag = 0  # marker sorts BEFORE same-bucket right aggregates
        u = agg.select(*r_by, "_b", F.lit(1).alias("_mtag"), "_p").unionByName(
            lbuckets.select(
                *r_by, "_b", F.lit(marker_tag).alias("_mtag"),
                F.lit(None).cast(ptype).alias("_p"),
            )
        )
        w = Window.partitionBy(*r_by).orderBy("_b", "_mtag")
        if forward:
            carry = F.first("_p", ignorenulls=True).over(
                w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
            )
        else:
            carry = F.last("_p", ignorenulls=True).over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
        return (
            u.withColumn("_c", carry)
            .where((F.col("_mtag") == marker_tag) & F.col("_c").isNotNull())
            .select(*r_by, "_b", F.col("_c._p_ts").alias("_ts_d"), F.col("_c").alias("_p"))
        )

    # ---- the merge union: left rows + in-bucket right rows (+ carries) ----
    # _tag: 0 = right-ish row, 1 = left row. _pb / _pf carry the payload for
    # the backward / forward fill respectively (carry rows feed only their
    # own direction; in-bucket right rows feed both).
    null_p = F.lit(None).cast(ptype)
    lkeep = [c for c in left.columns]
    l_u = lf.select(
        *[F.col(c).alias(rb) for c, rb in zip(by_l, r_by)],
        "_b", "_ts_d", F.lit(1).alias("_tag"),
        null_p.alias("_pb"), null_p.alias("_pf"),
        *[F.col(c).alias("_l_" + c) for c in lkeep],
    )
    null_lcols = [
        F.lit(None).cast(left.schema[c].dataType).alias("_l_" + c) for c in lkeep
    ]
    r_u = rpay.select(
        *r_by, "_b", "_ts_d", F.lit(0).alias("_tag"),
        F.col("_p").alias("_pb") if want_back else null_p.alias("_pb"),
        F.col("_p").alias("_pf") if want_fwd else null_p.alias("_pf"),
        *null_lcols,
    )
    parts = [l_u, r_u]
    if want_back:
        parts.append(
            _carries(forward=False).select(
                *r_by, "_b", "_ts_d", F.lit(0).alias("_tag"),
                F.col("_p").alias("_pb"), null_p.alias("_pf"), *null_lcols,
            )
        )
    if want_fwd:
        parts.append(
            _carries(forward=True).select(
                *r_by, "_b", "_ts_d", F.lit(0).alias("_tag"),
                null_p.alias("_pb"), F.col("_p").alias("_pf"), *null_lcols,
            )
        )
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)

    # Backward: right sorts before left at equal ts -> inclusive match; among
    # equal-ts right rows last() takes the struct-max payload (deterministic).
    wb = (
        Window.partitionBy(*r_by, "_b")
        .orderBy(F.col("_ts_d").asc(), F.col("_tag").asc(), F.col("_pb").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # Forward: left sorts before right at equal ts -> the equal-ts right row
    # is in the following frame; first() takes the struct-min payload (_pf
    # ASC), agreeing with the carry aggregate's F.min for duplicate right
    # timestamps — the match is identical whether it arrives via carry or
    # in-bucket, for any bucket_width.
    wf = (
        Window.partitionBy(*r_by, "_b")
        .orderBy(F.col("_ts_d").asc(), F.col("_tag").desc(), F.col("_pf").asc())
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    filled = u
    if want_back:
        filled = filled.withColumn("_fb", F.last("_pb", ignorenulls=True).over(wb))
    if want_fwd:
        filled = filled.withColumn("_ff", F.first("_pf", ignorenulls=True).over(wf))
    filled = filled.where(F.col("_tag") == 1)

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


def asof_join_window(
    left: DataFrame,
    right: DataFrame,
    on: str = "ts",
    by="entity_id",
    right_cols=None,
    tolerance: float | None = None,
    suffix: str = "_right",
    include_right_on: bool = False,
) -> DataFrame:
    """Backward as-of join via union + last(ignorenulls) window — one
    shuffle, no Python. At equal timestamps the right row sorts first, so
    matches are inclusive (right.ts <= left.ts), identical to DuckDB
    ASOF JOIN semantics.

    The right payload travels as ONE struct, so all fill columns come
    from the same winning row even when that row has null fields (per-
    column fills could mix rows); duplicate (entity, ts) right rows
    tie-break to the greatest payload struct (struct comparison, null
    fields smallest) — the same contract as the other strategies. Right
    rows with a null timestamp are unmatchable and dropped."""
    by_l = _as_list(by)
    rcols, out_rnames, right_on_out = _resolve_output_cols(
        left.columns, right, on, by_l, right_cols, suffix, include_right_on, "backward"
    )

    lkeep = [c for c in left.columns if c not in set(by_l) | {on}]
    pay = F.struct(
        F.col(on).alias("_p_on"), *[F.col(c).alias(c) for c in rcols]
    )
    l2 = left.select(
        *by_l,
        F.col(on),
        F.lit(1).alias("_tag"),
        *[F.col(c) for c in lkeep],
        F.lit(None)
        .cast(
            right.select(pay.alias("_p")).schema["_p"].dataType
        )
        .alias("_p"),
    )
    r_nonnull = F.col(on).isNotNull()
    for c in by_l:
        r_nonnull = r_nonnull & F.col(c).isNotNull()
    r2 = right.where(r_nonnull).select(
        *by_l,
        F.col(on),
        F.lit(0).alias("_tag"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lkeep],
        pay.alias("_p"),
    )
    u = l2.unionByName(r2)
    w = (
        Window.partitionBy(*by_l)
        .orderBy(on, "_tag", "_p")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = u.select(
        *by_l,
        F.col(on),
        "_tag",
        *lkeep,
        F.last("_p", ignorenulls=True).over(w).alias("_f"),
    ).where(F.col("_tag") == 1)

    match = F.col("_f")
    if tolerance is not None:
        from pyspark.sql.types import TimestampNTZType

        lc, rc = F.col(on), F.col("_f._p_on")
        if isinstance(left.schema[on].dataType, TimestampNTZType):
            lc = lc.cast("timestamp")
        if isinstance(right.schema[on].dataType, TimestampNTZType):
            rc = rc.cast("timestamp")
        within = (lc.cast("double") - rc.cast("double")) <= F.lit(float(tolerance))
        match = F.when(within, F.col("_f"))

    filled = filled.withColumn("_m", match)
    sel = [F.col(c) for c in left.columns] + [
        F.col(f"_m.{c}").alias(oc) for c, oc in zip(rcols, out_rnames)
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

    Mirrors the reference's grid-alignment resample where the TARGET grid is
    dense and the SOURCE samples are sparse (tools/Resample.cxx:83-99).
    """
    return map_in_arrow(left, *asof_broadcast_stage(left.schema, right, **opts))


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

    # Collect + index the right side on the driver (counted, bounded).
    # Known pandas round-trip limitation (also applies to cogroup): a
    # NULLABLE integer right column travels as float64, so int64 values
    # above 2^53 in a column that also has nulls lose precision; the
    # bucketed (JVM) strategy is exact for that shape.
    rp = right.select(*by_l, on, *rcols).limit(max_right_rows + 1).toPandas()
    if len(rp) > max_right_rows:
        raise ValueError(
            f"asof_join_broadcast: right side exceeds {max_right_rows} rows; "
            "use asof_join (bucketed) or asof_join_cogroup instead "
            "(asof_join_auto picks automatically)"
        )

    index: dict = {}
    # right rows with a null timestamp are unmatchable — drop them before
    # the index build (NaN in a sorted array corrupts searchsorted)
    rp = rp[rp[on].notna()]
    if len(rp):
        # secondary sort on the payload columns (see _dup_ts_sort): among
        # duplicate right timestamps, backward deterministically matches
        # the greatest payload and forward the least — same contract as
        # the bucketed strategy's struct-max/min
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
            index[k] = (_ts_np_series(grp[on]), payload)
    b_index = right.sparkSession.sparkContext.broadcast(index)
    lcols = left_schema.names
    # dtype templates only — capturing `rp` itself would cloudpickle the
    # whole collected right side into every task closure, duplicating the
    # broadcast at up to max_right_rows scale

    # Output gather targets, typed: float/datetime columns get native
    # arrays (NaN/NaT missing); everything else object (None missing).
    gather_cols = list(zip(rcols, out_rnames))
    if right_on_out:
        gather_cols.append((on, right_on_out))

    def _alloc(n: int, src: pd.Series):
        if blend:
            return np.full(n, np.nan, dtype=np.float64)
        if pd.api.types.is_datetime64_any_dtype(src.dtype):
            return np.full(n, np.datetime64("NaT"), dtype="datetime64[us]")
        if np.issubdtype(src.dtype, np.floating):
            return np.full(n, np.nan, dtype=np.float64)
        return np.full(n, None, dtype=object)

    templates = (
        {oc: rp[c].iloc[:0] for c, oc in gather_cols} if len(rp) else None
    )

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
                {oc: _alloc(n, templates[oc]) for _c, oc in gather_cols}
                if templates is not None
                else {}
            )
            for key, rows in grp_of.items():
                k = key if isinstance(key, tuple) else (key,)
                ent = idx.get(k)
                if ent is None:
                    continue
                rts, payload = ent
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
                elif cubic:
                    i0, i1, i2, i3 = m
                    for c, oc in gather_cols:
                        vals = _cubic_eval(
                            t, rts[i0], rts[i1], rts[i2], rts[i3],
                            payload[c][i0].astype(np.float64),
                            payload[c][i1].astype(np.float64),
                            payload[c][i2].astype(np.float64),
                            payload[c][i3].astype(np.float64),
                        )
                        targets[oc][hit_rows] = vals[ok]
                else:
                    hit_sel = m[ok]
                    for c, oc in gather_cols:
                        targets[oc][hit_rows] = payload[c][hit_sel]
            new_cols = []
            for _c, oc in gather_cols:
                t = targets.get(oc)
                if t is None:
                    new_cols.append(pa.nulls(n, out_pa_types[oc]))
                else:
                    new_cols.append(
                        pa.array(t, type=out_pa_types[oc], from_pandas=True)
                    )
            yield pa.record_batch(
                list(rb.columns) + new_cols,
                names=lcols + [oc for _c, oc in gather_cols],
            )

    return fn, out_schema


def asof_join_cogroup(
    left: DataFrame,
    right: DataFrame,
    on: str = "ts",
    by="entity_id",
    right_cols=None,
    direction: str = "backward",
    tolerance: float | None = None,
    suffix: str = "_right",
    include_right_on: bool = False,
    num_buckets: int = 128,
) -> DataFrame:
    """Partitioned-index as-of join: the "per-partition index slice" tier.

    Both sides are hash-shuffled on a BUCKET of the entity key
    (xxhash64(entity) % num_buckets — one exchange each) and merged with
    one vectorized searchsorted per entity inside the bucket task. Each
    task holds only its bucket's slice of the right-side index, so a
    right side far above broadcast size (the ~3 GB production stats
    table, SCALE.md) never concentrates on the driver or in every
    executor — and the Python call count is num_buckets, not #entities
    (per-entity cogroups were measured ~10x slower from per-group
    applyInPandas overhead alone). Matching semantics are shared with
    asof_join_broadcast via _np_asof_match, including the duplicate-
    timestamp contract (backward = greatest payload, forward = least)
    and direction="interpolate".

    Skew note: a single entity's whole left+right history lands in one
    bucket, so this is the mid-tier for many-entity, non-pathological
    distributions; a hot-entity workload should use asof_join (bucketed),
    which additionally splits entities across time buckets.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import DoubleType, StructField, StructType

    by_l = _as_list(by)
    rcols, out_rnames, right_on_out = _resolve_output_cols(
        left.columns, right, on, by_l, right_cols, suffix, include_right_on, direction
    )
    interp = direction == "interpolate"
    cubic = direction == "cubic"
    blend = interp or cubic  # multi-row blends emit double columns

    rschema = {f.name: f for f in right.schema.fields}
    out_fields = list(left.schema.fields) + [
        StructField(oc, DoubleType() if blend else rschema[c].dataType, True)
        for c, oc in zip(rcols, out_rnames)
    ]
    if right_on_out:
        out_fields.append(StructField(right_on_out, rschema[on].dataType, True))
    out_schema = StructType(out_fields)
    out_names = [f.name for f in out_fields]
    gather_cols = list(zip(rcols, out_rnames))
    if right_on_out:
        gather_cols.append((on, right_on_out))

    # Rename the right side up front: cogroup's Arrow transfer silently
    # drops right-side columns whose names collide with left-side non-key
    # columns (observed on the shared `on` column under self-lineage).
    RP = "_r_"

    def _alloc(n: int, src):
        if blend:
            return np.full(n, np.nan, dtype=np.float64)
        if src is not None and pd.api.types.is_datetime64_any_dtype(src.dtype):
            return np.full(n, np.datetime64("NaT"), dtype="datetime64[us]")
        if src is not None and src.dtype.kind == "f":
            return np.full(n, np.nan, dtype=np.float64)
        return np.full(n, None, dtype=object)

    def merge(lp: pd.DataFrame, rp: pd.DataFrame) -> pd.DataFrame:
        n = len(lp)
        if n == 0:
            return pd.DataFrame(columns=out_names)
        out = lp.drop(columns=["_g"])
        if len(rp) == 0:
            for c, oc in gather_cols:
                out[oc] = _alloc(n, None)
            return out[out_names]
        # same duplicate-ts contract as the broadcast index build (null ts
        # rows unmatchable; null payload = smallest tuple, like struct-max)
        rp = rp[rp[RP + on].notna()]
        if len(rp) == 0:
            for c, oc in gather_cols:
                out[oc] = _alloc(n, None)
            return out[out_names]
        rp = _dup_ts_sort(rp, [*by_l, on], rcols, rschema, prefix=RP)
        payload = {
            c: (
                _dt_naive(rp[RP + c]).to_numpy().astype("datetime64[us]")
                if pd.api.types.is_datetime64_any_dtype(rp[RP + c].dtype)
                else rp[RP + c].to_numpy()
            )
            for c in (on, *rcols)
        }
        rts_all = _ts_np_series(rp[RP + on])
        r_groups = rp.groupby([RP + c for c in by_l], sort=False).indices
        lts = _ts_np_series(lp[on])
        l_groups = lp.groupby(by_l, sort=False).indices
        targets = {oc: _alloc(n, rp[RP + c]) for c, oc in gather_cols}
        for key, rows in l_groups.items():
            rrows = r_groups.get(key)
            if rrows is None:
                continue
            # rp is entity-sorted, so an entity's rows are one contiguous,
            # ts-sorted slice
            rts = rts_all[rrows]
            ok, m = _np_asof_match(rts, lts[rows], direction, tolerance)
            if not ok.any():
                continue
            hit_rows = rows[ok]
            if interp:
                bi, fi, frac = m
                for c, oc in gather_cols:
                    vb = payload[c][rrows][bi].astype(np.float64)
                    vf = payload[c][rrows][fi].astype(np.float64)
                    targets[oc][hit_rows] = (vb + (vf - vb) * frac)[ok]
            elif cubic:
                i0, i1, i2, i3 = m
                t = lts[rows]
                for c, oc in gather_cols:
                    pv = payload[c][rrows]
                    vals = _cubic_eval(
                        t, rts[i0], rts[i1], rts[i2], rts[i3],
                        pv[i0].astype(np.float64),
                        pv[i1].astype(np.float64),
                        pv[i2].astype(np.float64),
                        pv[i3].astype(np.float64),
                    )
                    targets[oc][hit_rows] = vals[ok]
            else:
                hit_sel = rrows[m[ok]]
                for c, oc in gather_cols:
                    targets[oc][hit_rows] = payload[c][hit_sel]
        for c, oc in gather_cols:
            out[oc] = targets[oc]
        return out[out_names]

    bucket_of = lambda cols: F.pmod(F.xxhash64(*cols), F.lit(num_buckets))  # noqa: E731
    l2 = left.withColumn("_g", bucket_of(by_l))
    rsel = right.select(
        *[F.col(c).alias(RP + c) for c in by_l],
        F.col(on).alias(RP + on),
        *[F.col(c).alias(RP + c) for c in rcols],
    ).withColumn("_g", bucket_of([RP + c for c in by_l]))
    return (
        l2.groupBy("_g")
        .cogroup(rsel.groupBy("_g"))
        .applyInPandas(merge, out_schema)
    )


def choose_asof_strategy(right: DataFrame, broadcast_max_rows: int = 2_000_000) -> str:
    """Right-side size probe for asof_join_auto: one bounded count
    (limit(cap+1).count(), so a huge right side never runs a full count).
    Small -> 'broadcast'; otherwise 'bucketed' — the skew-safe default at
    scale. 'cogroup' and 'window' are opt-in (see asof_join_auto) because
    choosing them safely needs per-entity skew knowledge a cheap probe
    can't give."""
    n = right.limit(broadcast_max_rows + 1).count()
    return "broadcast" if n <= broadcast_max_rows else "bucketed"


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
    bucket_width: float = 86400.0,
    strategy: str | None = None,
) -> DataFrame:
    """Physical-strategy selector for the as-of join.

    Auto mode probes the right side once (bounded count) and picks:

    - 'broadcast' (<= broadcast_max_rows): zero shuffle of the left side,
      map-side searchsorted against a driver-built index;
    - 'bucketed' (otherwise): the (entity, time-bucket) merge — big right
      sides never cross the driver, and hot entities split across buckets.

    Pass ``strategy`` to force 'broadcast' | 'bucketed' | 'cogroup' |
    'window' ('cogroup' = per-partition index slices, right for a large
    stats table with benign entity skew; 'window' = single entity-
    partitioned window, backward-only, right when entities are small).
    The choice is recorded on the result as ``df._asof_strategy``.
    """
    chose = False
    if strategy is None:
        # persist across probe + (eager) broadcast collect so a DERIVED
        # right side (e.g. an aggregated stats table) is computed once;
        # lazy strategies unpersist immediately (nothing collected yet)
        right = right.persist()
        chose = True
        strategy = choose_asof_strategy(right, broadcast_max_rows)
        if direction == "cubic" and strategy == "bucketed":
            # cubic is index-strategy-only (see asof_join); above the
            # broadcast cap the per-partition index tier is the right home
            strategy = "cogroup"
    kw = dict(
        on=on, by=by, right_cols=right_cols, direction=direction,
        tolerance=tolerance, suffix=suffix, include_right_on=include_right_on,
    )
    if strategy == "broadcast":
        out = asof_join_broadcast(
            left, right, max_right_rows=broadcast_max_rows, **kw
        )
    elif strategy == "bucketed":
        out = asof_join(left, right, bucket_width=bucket_width, **kw)
    elif strategy == "cogroup":
        out = asof_join_cogroup(left, right, **kw)
    elif strategy == "window":
        if direction != "backward":
            raise ValueError("window strategy implements backward only")
        out = asof_join_window(
            left, right, on=on, by=by, right_cols=right_cols,
            tolerance=tolerance, suffix=suffix,
            include_right_on=include_right_on,
        )
    else:
        raise ValueError(f"unknown asof strategy {strategy!r}")
    if chose:
        # broadcast collected eagerly above; for lazy strategies this just
        # returns to the un-cached status quo
        right.unpersist()
    out._asof_strategy = strategy
    return out
