"""Structured Streaming operators: watermarked windowed aggregation,
session windows, and a custom stateful running aggregate.

The reference is strictly batch (SURVEY.md §2.9) — these are the engine's
forward-looking stream re-expressions of the same semantics:

- ``windowed_counts``: tumbling event-time windows + watermark = the
  histogram-per-time-bucket of the batch engine with bounded state and
  late-data tolerance.
- ``session_aggregate``: native session_window (gap rule) = the batch
  ``operators.windows.sessionize`` (ROI-boundary rule,
  RegionOfInterestGenerator.hxx:43-56) with state expiry via watermark.
- ``running_user_stats``: applyInPandasWithState — per-entity running
  count/sum surviving across micro-batches; the streaming form of the
  per-partition ledger metrics.

Batch/stream parity is the correctness gate: availableNow over a static
file set must equal the batch computation on the same files (tested).

Scale notes: state is keyed by (window x key) / (session x key) and
bounded by the watermark horizon; shuffle partitioning of the stateful
operators follows spark.sql.shuffle.partitions. At 10^12-row history the
stream handles the increment while the batch engine owns the backfill —
both produce identical rows by construction (same expressions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def stream_events(
    spark: SparkSession,
    path: str,
    schema: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    r = spark.readStream.schema(schema)
    if max_files_per_trigger:
        r = r.option("maxFilesPerTrigger", int(max_files_per_trigger))
    return r.parquet(path)


def _tz(events: DataFrame, ts: str) -> DataFrame:
    """Watermarks require TIMESTAMP (not NTZ); session TZ is pinned UTC in
    session.py so the cast is stable."""
    from pyspark.sql.types import TimestampNTZType

    if isinstance(events.schema[ts].dataType, TimestampNTZType):
        return events.withColumn(ts, F.col(ts).cast("timestamp"))
    return events


def windowed_counts(
    events: DataFrame,
    ts: str = "ts",
    key: str = "event_type",
    window: str = "10 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Tumbling-window counts + decimal value sum with late-data watermark."""
    events = _tz(events, ts)
    tcol = F.col(ts)
    return (
        events.withWatermark(ts, watermark)
        .groupBy(F.window(tcol, window).alias("win"), F.col(key))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("decimal(38,2)")
            .alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            key,
            "n_events",
            "sum_value",
        )
    )


def session_aggregate(
    events: DataFrame,
    ts: str = "ts",
    key: str = "user_id",
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Native session windows (gap rule) per entity."""
    events = _tz(events, ts)
    return (
        events.withWatermark(ts, watermark)
        .groupBy(F.session_window(F.col(ts), gap).alias("sw"), F.col(key))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col(key),
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )


RUNNING_STATE_SCHEMA = "n long, s double"


def running_user_stats(events: DataFrame, key: str = "user_id") -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per-entity
    running row count + value sum across micro-batches. Emits one row per
    (entity, micro-batch in which it appeared). The key column keeps its
    input type."""
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import LongType, StructField, StructType
    from pyspark.sql.types import DoubleType

    out_schema = StructType(
        [
            StructField(key, events.schema[key].dataType),
            StructField("batch_rows", LongType()),
            StructField("total_rows", LongType()),
            StructField("total_value", DoubleType()),
        ]
    )

    def fn(key_, pdf_iter, state):
        import pandas as pd

        n, s = state.get if state.exists else (0, 0.0)
        batch = 0
        for pdf in pdf_iter:
            batch += len(pdf)
            n += len(pdf)
            s += float(pdf["value"].sum())
        state.update((n, s))
        yield pd.DataFrame(
            {
                key: [key_[0]],
                "batch_rows": [batch],
                "total_rows": [n],
                "total_value": [s],
            }
        )

    return events.groupBy(key).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=RUNNING_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_to_memory(
    stream_df: DataFrame, name: str, output_mode: str = "complete"
) -> None:
    """Drain a stream with availableNow into an in-memory table `name`
    (test/demo harness; production sinks are parquet/Iceberg/Kafka)."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def dedup_exact(
    docs: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    ts: str | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup at ingest: keep the FIRST arrival of each
    content hash (md5 — the same content key as the batch
    dedup.md5_long/q_dedup_exact family, so batch and stream agree on
    what "duplicate" means).

    Without `ts`, state is the unbounded set of seen hashes
    (dropDuplicates) — right for bounded replays. With `ts`, state is
    bounded by the watermark horizon (dropDuplicatesWithinWatermark):
    a duplicate arriving within the horizon of its original is dropped,
    older state is evicted — the production shape for a continuous
    crawl feed, where content recurrence beyond the horizon is
    re-admitted deliberately (re-crawls) rather than held in state
    forever.
    """
    from pyspark.sql import functions as F

    hashed = docs.withColumn("_h", F.md5(F.col(content_col)))
    if ts is None:
        return hashed.dropDuplicates(["_h"]).drop("_h")
    out = (
        _tz(hashed, ts)
        .withWatermark(ts, watermark)
        .dropDuplicatesWithinWatermark(["_h"])
        .drop("_h")
    )
    return out


def _cents_half_up(vals):
    """Integer cents of a float64 array, mirroring the batch operators'
    ``CAST(x AS DECIMAL(18,2)) * 100`` bit-for-bit.

    Two subtleties, both measured against the live engine (10k-value
    probe, 0 mismatches):

    - Spark's cast rounds HALF_UP (ties away from zero) — ``np.round``
      is half-even, so 0.125 would book 12 cents where batch has 13.
    - Spark's Decimal(double) goes through ``BigDecimal.valueOf``, i.e.
      it rounds the SHORTEST ROUND-TRIP DECIMAL REPR of the double, not
      the exact binary value: 75.445 is stored as 75.44499999999999...,
      yet casts to 75.45 because its shortest repr is "75.445". A
      binary-value formula (floor(|v|*100 + 0.5)) books 7544 there —
      measured on 19 of 10009 random 3-decimal values.

    Fast path: sign-adjusted floor(|v|*100 + 0.5), exact whenever the
    product is not within float error of a half-cent boundary. Near the
    boundary (|frac - 0.5| <= 1e-6 + 1e-12*|v*100|, generous vs the
    ~2e-16 relative repr/product gaps) the slow path re-rounds
    ``Decimal(repr(v))`` HALF_UP — CPython's repr is the same
    shortest-round-trip decimal Java's Double.toString produces. The band
    is capped at 0.499 so whole-cent products stay fast at any size; from
    2**50 cents on, where the gap can pass the 0.001 margin that leaves,
    every value takes the slow path. 2-decimal labels (the
    ``encode.cents_sql`` contract) below ~5e10 never hit the slow path.
    Callers mask non-finite values first (floor(NaN) casts to INT64_MIN,
    ±Inf fails the slow path) and treat them as NULL.
    """
    import numpy as np

    p = np.abs(vals) * 100.0
    cents = np.floor(p + 0.5).astype(np.int64)
    band = np.minimum(1e-6 + 1e-12 * p, 0.499)
    near = (np.abs(p - np.floor(p) - 0.5) <= band) | (p >= 2.0**50)
    if near.any():
        from decimal import ROUND_HALF_UP, Decimal

        for i in np.nonzero(near)[0]:
            cents[i] = int(
                (Decimal(repr(abs(float(vals[i])))) * 100).to_integral_value(
                    rounding=ROUND_HALF_UP
                )
            )
    return np.sign(vals).astype(np.int64) * cents


ZSCORE_STATE_SCHEMA = "n long, s_cents long, ss_cents4 long"


def streaming_zscore(
    events: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
    value: str = "value",
    id_col: str = "event_id",
) -> DataFrame:
    """Streaming counterpart of ``operators.encode.expanding_zscore``:
    per-entity expanding z-score against strictly-earlier history, scored
    as events arrive (applyInPandasWithState, update mode).

    Bit-exact parity contract with the batch operator: state carries the
    history as INTEGER cents (sum) and 10^-4 units (sum of squares) —
    the streaming mirror of the batch DECIMAL(38,2)/(38,4) sums, immune
    to accumulation order — and the float post-processing reproduces the
    batch expression tree op for op (cents/100 and n are exact, every
    (/, *, -, sqrt) is correctly rounded IEEE, so identical inputs give
    identical bits). Values must carry at most 2 decimals (same contract
    the batch decimals enforce); int64 cents bound the history at ~9e16
    value-units per entity.

    Within a micro-batch, rows are processed in (ts, id_col) order and
    rows sharing a timestamp are scored against the SAME pre-group state
    (the batch operator's peer-exclusion rule). Parity across batches
    requires per-entity time-ordered arrival (the daily-increment shape,
    SCALE.md); late data beyond that is a reprocess, not a state patch.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField(id_col, events.schema[id_col].dataType),
            StructField(key, events.schema[key].dataType),
            StructField("z_n_prev", LongType()),
            StructField("z_mean_prev", DoubleType()),
            StructField("z_var_prev", DoubleType()),
            StructField("z_score", DoubleType()),
        ]
    )

    def fn(key_, pdf_iter, state):
        import math

        import numpy as np
        import pandas as pd

        n, s_c, ss_c = state.get if state.exists else (0, 0, 0)
        pdf = pd.concat(list(pdf_iter), ignore_index=True)
        pdf = pdf.sort_values([ts, id_col], kind="stable").reset_index(drop=True)
        tnull = pdf[ts].isna().to_numpy()
        frames = []
        for _, grp in pdf.groupby(ts, sort=True, dropna=False):
            k = len(grp)
            if tnull[grp.index[0]]:
                # NULL-ts rows: NULL features, no history contribution
                # (the batch operator's family rule)
                frames.append(
                    pd.DataFrame(
                        {
                            id_col: grp[id_col].to_numpy(),
                            key: [key_[0]] * k,
                            "z_n_prev": pd.array([None] * k, dtype="Int64"),
                            "z_mean_prev": [None] * k,
                            "z_var_prev": [None] * k,
                            "z_score": [None] * k,
                        }
                    )
                )
                continue
            # Whole same-ts group scores against the pre-group state, so
            # mean/var are group constants and the scores vectorize.
            mean = var = None
            if n >= 1:
                mean = (float(s_c) / 100.0) / float(n)
            if n >= 2:
                var = (float(ss_c) / 10000.0) / float(n) - mean * mean
            if var is not None and var > 0:
                sc = (grp[value].to_numpy(np.float64) - mean) / math.sqrt(var)
                # NULL values score NULL (the batch operator's NULL
                # arithmetic), not NaN-on-the-wire
                sc = pd.Series(sc, dtype="object").where(~np.isnan(sc.astype(np.float64)), None)
            else:
                sc = pd.Series([None] * k, dtype="object")
            frames.append(
                pd.DataFrame(
                    {
                        id_col: grp[id_col].to_numpy(),
                        key: [key_[0]] * k,
                        "z_n_prev": np.full(k, n, dtype=np.int64),
                        "z_mean_prev": [mean] * k,
                        "z_var_prev": [var] * k,
                        "z_score": sc,
                    }
                )
            )
            # Mask NULLs and ±Inf before rounding (streaming_decayed's
            # rule): floor(NaN or Inf).astype(int64) is INT64_MIN, which
            # would permanently corrupt the cents state, and the batch
            # operator's COUNT(value)/DECIMAL sums skip NULLs.
            vals = grp[value].to_numpy(np.float64)
            ok = np.isfinite(vals)
            vc = _cents_half_up(vals[ok])
            n += int(ok.sum())
            s_c += int(vc.sum())
            ss_c += int((vc * vc).sum())
        state.update((n, s_c, ss_c))
        yield pd.concat(frames, ignore_index=True)

    return events.groupBy(key).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=ZSCORE_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_asof_enrich(
    stream_left: DataFrame,
    static_right: DataFrame,
    on: str = "ts",
    by: str = "user_id",
    right_cols=None,
    direction: str = "backward",
    tolerance: float | None = None,
) -> DataFrame:
    """Streaming point-in-time enrichment: as-of join a STREAM of probe
    rows against a STATIC feature table — the online-serving shape of the
    batch point-in-time join (each arriving event is enriched with the
    latest feature row at or before its timestamp).

    Delegates to asof_join_broadcast, whose left side is a single
    mapInArrow over the probe rows — a narrow, stateless stage that
    Structured Streaming runs per micro-batch with no watermark, state
    store, or stream-stream join constraints. The right side is indexed
    once at plan build (driver-side, counted and bounded); restart the
    query to pick up feature-table changes — the same snapshot semantics
    as a broadcast dimension in a stream-static join. The last index is
    memoized per SparkContext on the table's plan and the (path, inode,
    size, mtime) of its files, for a table whose plan reads files only:
    a restart over a rewritten table (re-read after the rewrite) rebuilds
    it, and over unchanged files reuses the Broadcast without collecting
    again. Row-for-row parity
    with the batch operator is by construction (same code path) and
    regression-gated in tests/test_streaming.py.
    """
    from ..operators.asof import asof_join_broadcast

    if static_right.isStreaming:
        raise ValueError(
            "streaming_asof_enrich: the right side must be a static "
            "DataFrame (the feature snapshot); stream-stream as-of is not "
            "supported"
        )
    return asof_join_broadcast(
        stream_left,
        static_right,
        on=on,
        by=by,
        right_cols=right_cols,
        direction=direction,
        tolerance=tolerance,
    )


DECAY_STATE_SCHEMA = "base long, cents array<long>, cnts array<long>"


def streaming_decayed(
    events: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
    value: str = "value",
    id_col: str = "event_id",
    bucket_seconds: float = 21600.0,
    horizon: int | None = None,
) -> DataFrame:
    """Streaming counterpart of ``operators.encode.decayed_features``:
    per-entity exponentially time-decayed sum/count of strictly-earlier
    events, scored as events arrive (applyInPandasWithState, update mode)
    — the real-time serving form of the feature-store recency counter.

    State is a ring of the last `horizon` buckets' (cents, count)
    partials per entity — O(horizon) longs regardless of history length.
    Because the batch operator's weights are dyadic (2^-k), every term
    and partial sum here is exactly representable, so the stream
    reproduces the batch output BIT-FOR-BIT under the same arrival
    contract as streaming_zscore: per-entity time-ordered micro-batches
    (the daily-increment shape); rows sharing a timestamp score against
    the same pre-group state and never each other. Values must carry at
    most 2 decimals (the batch DECIMAL(18,2) contract). The bucket-order
    contract is ENFORCED across micro-batches: an event whose bucket
    precedes the open bucket gets NULL features and contributes nothing
    to the ring (it would otherwise read future buckets and book its
    value under the newest one) — same rule as streaming_target_encode.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import DoubleType, StructField, StructType

    from ..operators.encode import DECAY_HORIZON

    H = int(horizon if horizon is not None else DECAY_HORIZON)

    out_schema = StructType(
        [
            StructField(id_col, events.schema[id_col].dataType),
            StructField(key, events.schema[key].dataType),
            StructField("decay_sum", DoubleType()),
            StructField("decay_cnt", DoubleType()),
        ]
    )
    bs = float(bucket_seconds)

    def fn(key_, pdf_iter, state):
        import numpy as np
        import pandas as pd

        if state.exists:
            base, cents, cnts = state.get
            cents = np.asarray(cents, dtype=np.int64)
            cnts = np.asarray(cnts, dtype=np.int64)
        else:
            base = None
            cents = np.zeros(H, dtype=np.int64)
            cnts = np.zeros(H, dtype=np.int64)
        w = 0.5 ** np.arange(H)
        pdf = pd.concat(list(pdf_iter), ignore_index=True)
        pdf = pdf.sort_values([ts, id_col], kind="stable").reset_index(drop=True)
        # NaT -> INT64_MIN under .astype(int64); mask null ts explicitly
        tnull = pdf[ts].isna().to_numpy()
        tsec = pdf[ts].astype("datetime64[us]").astype(np.int64) / 1e6
        bks = np.floor(tsec / bs)
        frames = []

        def null_frame(grp):
            # NULL features, no state contribution — shared by the
            # NULL-ts rule and the late-bucket contract enforcement
            return pd.DataFrame(
                {
                    id_col: grp[id_col].to_numpy(),
                    key: [key_[0]] * len(grp),
                    "decay_sum": [None] * len(grp),
                    "decay_cnt": [None] * len(grp),
                },
                dtype="object",
            )
        for _, grp in pdf.groupby(ts, sort=True, dropna=False):
            gi = grp.index
            if tnull[gi[0]]:
                # null-ts rows: null features, no history contribution
                frames.append(null_frame(grp))
                continue
            b = int(bks[gi[0]])
            if base is not None and b < base:
                # CONTRACT VIOLATION (bucket-ordered arrival): this
                # bucket already shifted out of the open position in an
                # earlier micro-batch. Scoring it against the current
                # ring would read FUTURE buckets, and folding its cents
                # into cents[0] would book them under the NEWEST bucket
                # — both permanently diverge from the batch operator.
                # Late rows get NULL features and contribute nothing
                # (same enforcement as streaming_target_encode).
                frames.append(null_frame(grp))
                continue
            if base is None:
                base = b
            elif b > base:
                shift = min(b - base, H)
                cents = np.concatenate(
                    [np.zeros(shift, dtype=np.int64), cents[: H - shift]]
                )
                cnts = np.concatenate(
                    [np.zeros(shift, dtype=np.int64), cnts[: H - shift]]
                )
                base = b
            # whole same-ts group scores against the pre-group ring;
            # dyadic terms -> the sum order cannot change a bit
            s = float(np.dot(cents.astype(np.float64), w)) / 100.0
            c = float(np.dot(cnts.astype(np.float64), w))
            k = len(grp)
            frames.append(
                pd.DataFrame(
                    {
                        id_col: grp[id_col].to_numpy(),
                        key: [key_[0]] * k,
                        "decay_sum": [s] * k,
                        "decay_cnt": [c] * k,
                    }
                )
            )
            vals = grp[value].to_numpy(dtype=np.float64)
            ok = np.isfinite(vals)
            cents[0] += int(_cents_half_up(vals[ok]).sum())
            cnts[0] += int(ok.sum())
        if base is not None:
            state.update((base, [int(x) for x in cents], [int(x) for x in cnts]))
        yield pd.concat(frames, ignore_index=True)

    return events.groupBy(key).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=DECAY_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_drift(
    events: DataFrame,
    reference: DataFrame,
    by: str = "event_type",
    ts: str = "ts",
    value_col: str = "value",
    bin_width: float = 10.0,
    n_bins: int = 10,
    window: str = "1 day",
    watermark: str = "1 hour",
) -> DataFrame:
    """Serving-time distribution drift: per (event-time window, group)
    TV distance of the live stream against a STATIC training-window
    histogram (operators.monitor.reference_histogram, broadcast).

    The join runs BEFORE the windowed aggregation — stateless row-wise
    stream-static, the only join placement Structured Streaming allows
    around an aggregation — and the drift arithmetic is the exact
    fixed-order expression set the batch monitor uses, so batch replay
    of the same files produces identical rows (parity-tested).

    Scale: state is (window x group) histogram counters bounded by the
    watermark horizon; the reference is |groups| x (n_bins+2) — always
    broadcastable."""
    from ..operators.monitor import drift_against_reference

    events = _tz(events, ts).withWatermark(ts, watermark)
    return drift_against_reference(
        events, reference, by=by, ts=ts, value_col=value_col,
        bin_width=bin_width, n_bins=n_bins, window=window,
    )


FREQ_STATE_SCHEMA = "n long"


def streaming_frequency_encode(
    events: DataFrame,
    by=("user_id", "event_type"),
    ts: str = "ts",
    id_col: str = "event_id",
    out_col: str = "fe_n_prev",
) -> DataFrame:
    """Streaming counterpart of ``operators.encode.frequency_encode``:
    strictly-earlier same-key occurrence count, scored as events arrive —
    the serving form of the count encoder ("how often has this user done
    this before"). State is ONE long per key tuple.

    Parity contract (integer arithmetic — exact by construction): same
    arrival shape as streaming_zscore (per-entity time-ordered
    micro-batches); same-timestamp rows score against the same pre-group
    state and never each other; NULL-ts rows get NULL and count nothing
    (the batch operator's rule)."""
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import LongType, StructField, StructType

    by_l = list(by) if not isinstance(by, str) else [by]
    out_schema = StructType(
        [StructField(id_col, events.schema[id_col].dataType)]
        + [StructField(c, events.schema[c].dataType) for c in by_l]
        + [StructField(out_col, LongType())]
    )

    def fn(key_, pdf_iter, state):
        import pandas as pd

        (n,) = state.get if state.exists else (0,)
        pdf = pd.concat(list(pdf_iter), ignore_index=True)
        pdf = pdf.sort_values([ts, id_col], kind="stable").reset_index(drop=True)
        tnull = pdf[ts].isna().to_numpy()
        frames = []
        for _, grp in pdf.groupby(ts, sort=True, dropna=False):
            k = len(grp)
            is_null = bool(tnull[grp.index[0]])
            frames.append(
                pd.DataFrame(
                    {
                        id_col: grp[id_col].to_numpy(),
                        **{c: [key_[i]] * k for i, c in enumerate(by_l)},
                        out_col: pd.array(
                            [None if is_null else n] * k, dtype="Int64"
                        ),
                    }
                )
            )
            if not is_null:
                n += k
        state.update((n,))
        yield pd.concat(frames, ignore_index=True)

    return events.groupBy(*by_l).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=FREQ_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# completed-bucket totals + the open bucket's partials
TE_STATE_SCHEMA = "n_prev long, cents_prev long, cur_bk long, cur_n long, cur_cents long"

# "no open bucket yet" sentinel for the persisted cur_bk long: buckets are
# floor(epoch/width) with width >= 1 s, so |bucket| < 2^40 for any
# representable timestamp — -2^62 is unreachable by real data (a plain -1
# would collide with pre-1970 epochs, which the fuzz suite exercises).
TE_NO_BUCKET = -(1 << 62)


def streaming_target_encode(
    events: DataFrame,
    by: str = "event_type",
    ts: str = "ts",
    label: str = "value",
    id_col: str = "event_id",
    time_bucket: float = 3600.0,
    m: float | None = None,
    prior: float | None = None,
) -> DataFrame:
    """Streaming counterpart of ``operators.encode.target_encode``:
    per-category Bayesian-smoothed label mean over strictly-previous
    COMPLETED time buckets, scored as events arrive — the online form of
    the target encoder, frozen at bucket granularity exactly like the
    batch operator (rows never see their own bucket).

    State per category is five longs: completed-bucket count + label
    cents, plus the OPEN bucket's id and partials; when an event opens a
    later bucket the open partials fold into the totals. BIT-EXACT parity
    with the batch operator for labels of <= 2 decimals (the
    ``encode.cents_sql`` contract): label sums are integer cents rounded
    HALF_UP like the batch DECIMAL(18,2) cast (``_cents_half_up`` — so
    even half-cent ties like 0.125 match), cents/100.0 and CAST(DECIMAL
    AS DOUBLE) are both correctly rounded to the same double, and the
    float post-processing replays the batch expression tree op for op.
    Arrival contract: per-category bucket-ordered micro-batches (the
    daily-increment shape) — ENFORCED: an event whose bucket precedes
    the open bucket (late data across micro-batches) gets NULL features
    with its te_bucket kept (observable downstream) and contributes
    nothing to state, instead of silently corrupting it. NULL-ts rows
    get NULL features and count nothing; NULL labels count nothing
    (COUNT(label) semantics).
    """
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    from ..operators.encode import TE_PRIOR, TE_SMOOTHING_M

    m = float(TE_SMOOTHING_M if m is None else m)
    prior = float(TE_PRIOR if prior is None else prior)
    mp = m * prior
    bs = float(time_bucket)

    out_schema = StructType(
        [
            StructField(id_col, events.schema[id_col].dataType),
            StructField(by, events.schema[by].dataType),
            StructField("te_bucket", LongType()),
            StructField("te_n_prev", LongType()),
            StructField("te_mean_prev", DoubleType()),
            StructField("te_enc", DoubleType()),
        ]
    )

    def fn(key_, pdf_iter, state):
        import numpy as np
        import pandas as pd

        if state.exists:
            n_prev, cents_prev, cur_bk, cur_n, cur_cents = state.get
            if cur_bk == TE_NO_BUCKET:
                cur_bk = None
        else:
            n_prev, cents_prev, cur_bk, cur_n, cur_cents = 0, 0, None, 0, 0
        pdf = pd.concat(list(pdf_iter), ignore_index=True)
        pdf = pdf.sort_values([ts, id_col], kind="stable").reset_index(drop=True)
        tnull = pdf[ts].isna().to_numpy()
        # same epoch arithmetic as the batch operator: micros/1e6 then
        # floor(e / bucket) — identical IEEE ops, identical buckets
        tsec = pdf[ts].astype("datetime64[us]").astype(np.int64) / 1e6
        bks = np.floor(tsec / bs)
        frames = []

        def null_frame(grp, bucket=None):
            # NULL features, no state contribution — shared by the
            # NULL-ts rule (bucket unknown -> NULL) and the late-bucket
            # enforcement (bucket kept, so violations are observable)
            k = len(grp)
            return pd.DataFrame(
                {
                    id_col: grp[id_col].to_numpy(),
                    by: [key_[0]] * k,
                    "te_bucket": (
                        pd.array([None] * k, dtype="Int64")
                        if bucket is None
                        else np.full(k, bucket, dtype=np.int64)
                    ),
                    "te_n_prev": pd.array([None] * k, dtype="Int64"),
                    "te_mean_prev": [None] * k,
                    "te_enc": [None] * k,
                }
            )

        for _, grp in pdf.groupby(pd.Series(bks).where(~tnull), sort=True, dropna=False):
            k = len(grp)
            if tnull[grp.index[0]]:
                frames.append(null_frame(grp))
                continue
            b = int(bks[grp.index[0]])
            if cur_bk is not None and b < cur_bk:
                # CONTRACT VIOLATION (per-category bucket-ordered
                # arrival): this bucket already completed in an earlier
                # micro-batch. Silently scoring it against history that
                # includes LATER buckets — and folding its labels into
                # the currently-open bucket — would permanently diverge
                # from the batch operator. Late rows get NULL features
                # (te_bucket kept) and contribute NOTHING to state; late
                # data beyond the contract is a reprocess, not a state
                # patch (streaming_zscore's rule).
                frames.append(null_frame(grp, bucket=b))
                continue
            if cur_bk is not None and b > cur_bk:
                n_prev += cur_n
                cents_prev += cur_cents
                cur_n = cur_cents = 0
            if cur_bk is None or b > cur_bk:
                cur_bk = b
            sumd = float(cents_prev) / 100.0  # == CAST(DECIMAL(38,2) AS DOUBLE)
            mean = sumd / float(n_prev) if n_prev >= 1 else None
            enc = (sumd + mp) / (float(n_prev) + m)
            frames.append(
                pd.DataFrame(
                    {
                        id_col: grp[id_col].to_numpy(),
                        by: [key_[0]] * k,
                        "te_bucket": np.full(k, b, dtype=np.int64),
                        "te_n_prev": np.full(k, n_prev, dtype=np.int64),
                        "te_mean_prev": [mean] * k,
                        "te_enc": [enc] * k,
                    }
                )
            )
            vals = grp[label].to_numpy(dtype=np.float64)
            ok = np.isfinite(vals)
            cur_cents += int(_cents_half_up(vals[ok]).sum())
            cur_n += int(ok.sum())
        state.update(
            (
                n_prev,
                cents_prev,
                TE_NO_BUCKET if cur_bk is None else cur_bk,
                cur_n,
                cur_cents,
            )
        )
        yield pd.concat(frames, ignore_index=True)

    return events.groupBy(by).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=TE_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
