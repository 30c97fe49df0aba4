"""Window-based operators: lag/lead derivatives, backfill, sessionization.

Relational re-expressions of the reference's stencil/boundary semantics
(SURVEY.md §2.3, §2.6):

- lag/lead central differences = DerivativeImageFilter order 1/2 on the
  entity-time axis (Hessian3DImageFilter.hxx:19-51 configures the same
  operators on the spatial axes).
- backfill = the causal reading of normalized convolution's
  "interpolate across missing values" (NormalizedGaussianConvolutionImageFilter.h:6-9):
  last observed value at or before t — leakage-free by construction
  (frame ends at CURRENT ROW, never looks ahead).
- sessionize = the ROI-boundary rule (RegionOfInterestGenerator.hxx:43-56):
  an event belongs to the current session only while within `gap` of the
  previous event; a larger gap opens a new session.

All are single-shuffle (one hash partition by entity + sort within
partition); Spark's window operator spills, so a hot entity degrades to
disk rather than OOM. Skewed entities in the window path are mitigated by
AQE; the as-of module provides the salted/bucketed alternative when one
entity's history exceeds a task.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _w(by, order):
    return Window.partitionBy(*_as_list(by)).orderBy(*_as_list(order))


def _as_list(x):
    return [x] if isinstance(x, str) else list(x)


def lag_lead(
    df: DataFrame,
    by,
    order,
    value: str,
    prefix: str | None = None,
) -> DataFrame:
    """Append lag/lead and the central-difference first/second derivatives
    of `value` along the per-entity time axis (nulls at partition edges)."""
    p = prefix or value
    w = _w(by, order)
    lag = F.lag(value).over(w)
    lead = F.lead(value).over(w)
    return (
        df.withColumn(f"{p}_lag", lag)
        .withColumn(f"{p}_lead", lead)
        .withColumn(f"{p}_d1", (lead - lag) / 2.0)
        .withColumn(f"{p}_d2", lead - 2.0 * F.col(value) + lag)
    )


def backfill(df: DataFrame, by, order, cols, out_suffix: str = "_filled") -> DataFrame:
    """Causal forward-fill: for each column, the last non-null value at or
    before the current row within the entity. Zero temporal leakage (frame
    is unboundedPreceding..currentRow)."""
    w = _w(by, order).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    out = df
    for c in _as_list(cols):
        out = out.withColumn(c + out_suffix, F.last(c, ignorenulls=True).over(w))
    return out


def sessionize(
    df: DataFrame,
    by,
    ts: str,
    gap,
    session_col: str = "session_id",
) -> DataFrame:
    """Assign session ids per entity: a new session starts when the gap to
    the previous event exceeds `gap` (same units as ts; pass an interval
    expression-compatible value for timestamps, e.g. F.expr("INTERVAL 30
    MINUTES") equivalent seconds).

    session_id is a per-entity 1-based dense counter (cumulative sum of
    boundary flags), deterministic for a fixed (by, ts) ordering.
    """
    from pyspark.sql.types import TimestampNTZType

    w = _w(by, ts)
    prev = F.lag(ts).over(w)
    if isinstance(gap, (int, float)):
        cur = F.col(ts)
        if isinstance(df.schema[ts].dataType, TimestampNTZType):
            cur = cur.cast("timestamp")
            prev = prev.cast("timestamp")
        delta = cur.cast("double") - prev.cast("double")
        is_new = F.when(prev.isNull() | (delta > float(gap)), 1).otherwise(0)
    else:  # timestamp + interval string like "30 minutes"
        is_new = F.when(
            prev.isNull() | (F.col(ts) > prev + F.expr(f"INTERVAL {gap}")), 1
        ).otherwise(0)
    cum = F.sum(is_new).over(
        _w(by, ts).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn(session_col, cum)


def nearest_event_distance(
    df: DataFrame,
    by,
    ts: str,
    marker,
    out_col: str = "dist_to_marker",
) -> DataFrame:
    """Distance (in ts units) from each row to the nearest row satisfying
    `marker` (a boolean Column) within the entity — the relational form of
    the signed distance map (SignedMaurerDistanceMapImageFilter usage at
    /root/reference/include/ife/Statistics/ExpectedDistanceFromCenterToInterestPoint.h:16-19):
    backward + forward as-of against marker rows, then least().

    Null when the entity has no marker rows. One shuffle, two sorts
    (same partitioning, opposite time directions).
    """
    from pyspark.sql.types import TimestampNTZType

    tcol = F.col(ts)
    if isinstance(df.schema[ts].dataType, TimestampNTZType):
        tcol = tcol.cast("timestamp")
    td = tcol.cast("double")
    mts = F.when(marker, td)
    # RANGE frames over the numeric time value, not ROWS over sort order:
    # at duplicate timestamps a ROWS frame makes the answer depend on the
    # unspecified tie order (a same-ts marker may sort after the current
    # row and be missed); a value-range frame always includes ties, and
    # every tied marker carries the same time value, so the result is
    # order-independent by construction. Both frames run from the
    # partition start to the current row, so each costs O(n): the next
    # marker is the last one seen walking time descending (a frame to
    # UNBOUNDED FOLLOWING is re-aggregated per row, O(n^2)).
    by_l = _as_list(by)
    d = df.withColumn("_td", td)
    running = (Window.unboundedPreceding, Window.currentRow)
    wb = Window.partitionBy(*by_l).orderBy("_td").rangeBetween(*running)
    wf = (
        Window.partitionBy(*by_l)
        .orderBy(F.col("_td").desc())
        .rangeBetween(*running)
    )
    prev = F.last(mts, ignorenulls=True).over(wb)
    nxt = F.last(mts, ignorenulls=True).over(wf)
    dist = F.least(
        F.coalesce(F.col("_td") - prev, F.lit(float("inf"))),
        F.coalesce(nxt - F.col("_td"), F.lit(float("inf"))),
    )
    return d.withColumn(
        out_col, F.when(prev.isNotNull() | nxt.isNotNull(), dist)
    ).drop("_td")


def moving_aggregate(
    df: DataFrame,
    by,
    ts: str,
    value: str,
    width: float,
    out_prefix: str = "mov",
) -> DataFrame:
    """Trailing time-range moving aggregates (RANGE frame on the epoch
    axis): count / sum / mean of `value` over [t - width, t] (RANGE
    PRECEDING frames are boundary-INCLUSIVE, in Spark and the DuckDB
    oracle alike) per entity —
    the relational analog of Gaussian smoothing along the time axis
    (SmoothingRecursiveGaussian usage, SURVEY.md §2.3 N3), causal so
    leakage-free. Sum is computed on DECIMAL for cross-engine exactness."""
    from pyspark.sql.types import TimestampNTZType

    tcol = F.col(ts)
    if isinstance(df.schema[ts].dataType, TimestampNTZType):
        tcol = tcol.cast("timestamp")
    d = df.withColumn("_epoch", tcol.cast("double"))
    # Python's Window.rangeBetween only accepts int boundaries; a fractional
    # width over a double ordering needs the SQL frame syntax.
    by_sql = ", ".join(_as_list(by))
    frame = (
        f"PARTITION BY {by_sql} ORDER BY _epoch "
        f"RANGE BETWEEN {float(width)!r} PRECEDING AND CURRENT ROW"
    )
    dec = f"CAST({value} AS DECIMAL(18,2))"
    # one projection -> one Window operator (chained withColumn defeated
    # CollapseWindow: measured 3 Window nodes); the mean reuses the
    # materialized sum/count columns — CAST(DECIMAL(38,2) AS DOUBLE) is
    # the identical correctly-rounded conversion, so bits don't change.
    return (
        d.select(
            "*",
            F.expr(f"COUNT(1) OVER ({frame})").alias(f"{out_prefix}_n"),
            F.expr(f"CAST(SUM({dec}) OVER ({frame}) AS DECIMAL(38,2))").alias(
                f"{out_prefix}_sum"
            ),
        )
        .withColumn(
            f"{out_prefix}_mean",
            F.col(f"{out_prefix}_sum").cast("double")
            / F.col(f"{out_prefix}_n").cast("double"),
        )
        .drop("_epoch")
    )


def session_stats(
    df: DataFrame,
    by,
    ts: str,
    gap,
    agg_cols: dict | None = None,
) -> DataFrame:
    """Sessionize then aggregate one row per (entity, session): event count,
    start/end, duration. `agg_cols` maps output name -> Column for extras."""
    from pyspark.sql.types import TimestampNTZType

    by_l = _as_list(by)
    s = sessionize(df, by, ts, gap)
    tcol = F.col(ts)
    if isinstance(df.schema[ts].dataType, TimestampNTZType):
        tcol = tcol.cast("timestamp")
    aggs = [
        F.count(F.lit(1)).alias("n_events"),
        F.min(ts).alias("session_start"),
        F.max(ts).alias("session_end"),
        (F.max(tcol.cast("double")) - F.min(tcol.cast("double"))).alias(
            "duration_sec"
        ),
    ]
    for name, col in (agg_cols or {}).items():
        aggs.append(col.alias(name))
    return s.groupBy(*by_l, "session_id").agg(*aggs)


def gaussian_time_smooth(
    df: DataFrame,
    by,
    ts: str,
    value: str,
    sigma: float,
    cutoff: float = 3.0,
    out_col: str = "smoothed",
) -> DataFrame:
    """Gaussian-weighted time smoothing with normalized-convolution
    missing-data semantics — the full relational form of the reference's
    N3+N4 (SmoothingRecursiveGaussian + NormalizedGaussianConvolution,
    NormalizedGaussianConvolutionImageFilter.h:14-45): for each row,
    smoothed = sum_j w_ij * v_j / sum_j w_ij over neighbors within
    cutoff*sigma, w_ij = exp(-(t_i-t_j)^2 / (2 sigma^2)). Null `value`
    rows contribute zero weight (certainty 0) but still RECEIVE a
    smoothed estimate — interpolation across missing data, exactly the
    filter's contract. Rows with no observed neighbor in band -> null.

    Physical shape: a BANDED self-join — each row joins only candidates
    in its own or adjacent time buckets of width cutoff*sigma (explode
    of 3 bucket keys on the probe side, equi-join on (entity, bucket),
    band filter, one aggregation). Work per row is bounded by band
    occupancy, never the entity's history; shuffles are keyed by
    (entity, bucket), so a hot entity spreads across buckets.
    """
    from pyspark.sql.types import TimestampNTZType

    by_l = _as_list(by)
    B = float(cutoff) * float(sigma)
    tcol = F.col(ts)
    if isinstance(df.schema[ts].dataType, TimestampNTZType):
        tcol = tcol.cast("timestamp")
    base = df.withColumn("_t", tcol.cast("double"))
    # unique probe-row id: keeps duplicate input rows distinct through the
    # join+aggregate (grouping on data columns would merge them)
    probe0 = base.withColumn("_rid", F.monotonically_increasing_id())
    probe = probe0.withColumn(
        "_bk",
        F.explode(
            F.array(
                *[
                    (F.floor(F.col("_t") / F.lit(B)).cast("long") + F.lit(o))
                    for o in (-1, 0, 1)
                ]
            )
        ),
    )
    build = base.select(
        *[F.col(c).alias(f"_r_{c}") for c in by_l],
        F.col("_t").alias("_rt"),
        F.col(value).alias("_rv"),
    ).withColumn("_bk", F.floor(F.col("_rt") / F.lit(B)).cast("long"))
    cond = F.col("probe._bk") == F.col("build._bk")
    for c in by_l:
        # null-safe: rows with a null entity key still self-match
        cond = cond & F.col(c).eqNullSafe(F.col(f"_r_{c}"))
    # every non-null-ts probe row self-matches (same bucket, dt=0), so the
    # inner join preserves their count; null-ts rows (null bucket key)
    # bypass the join entirely and come back with a null smoothed value
    joined = probe.where(F.col("_t").isNotNull()).alias("probe").join(
        build.alias("build"), cond
    ).where(F.abs(F.col("_t") - F.col("_rt")) <= F.lit(B))
    w = F.exp(
        -((F.col("_t") - F.col("_rt")) * (F.col("_t") - F.col("_rt")))
        / F.lit(2.0 * float(sigma) * float(sigma))
    )
    # certainty 0 on missing values: weight only observed neighbors
    w_obs = F.when(F.col("_rv").isNotNull(), w).otherwise(F.lit(0.0))
    agg = joined.groupBy("_rid").agg(
        *[F.first(c).alias(c) for c in df.columns],
        F.sum(w_obs * F.coalesce(F.col("_rv"), F.lit(0.0))).alias("_num"),
        F.sum(w_obs).alias("_den"),
    )
    smoothed = agg.select(
        *df.columns,
        F.when(F.col("_den") > 0, F.col("_num") / F.col("_den")).alias(out_col),
    )
    null_ts = probe0.where(F.col("_t").isNull()).select(
        *df.columns, F.lit(None).cast("double").alias(out_col)
    )
    return smoothed.unionByName(null_ts)
