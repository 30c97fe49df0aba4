"""As-of join and window operator tests: DuckDB ASOF JOIN oracle, pandas
merge_asof oracle, leakage property, strategy cross-check."""

import duckdb
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from image_feature_extraction_spark.operators.asof import asof_join
from image_feature_extraction_spark.operators.windows import (
    backfill,
    lag_lead,
    session_stats,
    sessionize,
)


def _mk_frames():
    rng = np.random.default_rng(123)
    n_l, n_r = 400, 150
    left = pd.DataFrame(
        {
            "entity_id": rng.integers(0, 12, n_l).astype(np.int64),
            "ts": rng.integers(0, 100_000, n_l).astype(np.int64),
            "lval": rng.normal(size=n_l),
        }
    ).drop_duplicates(["entity_id", "ts"])
    right = pd.DataFrame(
        {
            "entity_id": rng.integers(0, 14, n_r).astype(np.int64),  # some absent
            "ts": rng.integers(0, 100_000, n_r).astype(np.int64),
            "rval": rng.normal(size=n_r),
        }
    ).drop_duplicates(["entity_id", "ts"])
    # exact-match timestamp case
    left.loc[left.index[0], ["entity_id", "ts"]] = [5, 50_000]
    right = pd.concat(
        [right, pd.DataFrame({"entity_id": [5], "ts": [50_000], "rval": [7.25]})],
        ignore_index=True,
    ).drop_duplicates(["entity_id", "ts"], keep="last")
    return left.reset_index(drop=True), right.reset_index(drop=True)


def _duck_asof(left, right, op=">="):
    con = duckdb.connect()
    con.register("l", left)
    con.register("r", right)
    return con.sql(
        f"""
        SELECT l.entity_id, l.ts, l.lval, r.rval
        FROM l ASOF LEFT JOIN r
          ON l.entity_id = r.entity_id AND l.ts {op} r.ts
        ORDER BY l.entity_id, l.ts, l.lval
        """
    ).df()


def _key(df):
    return df.sort_values(["entity_id", "ts", "lval"]).reset_index(drop=True)


@pytest.fixture(scope="module")
def frames(spark):
    left, right = _mk_frames()
    return left, right, spark.createDataFrame(left), spark.createDataFrame(right)


def test_asof_join_matches_duckdb(spark, frames):
    """Backward and forward against DuckDB's ASOF JOIN (>= and <=)."""
    left, right, ldf, rdf = frames
    for direction, op in (("backward", ">="), ("forward", "<=")):
        want = _key(_duck_asof(left, right, op))
        got = _key(
            asof_join(ldf, rdf, on="ts", by="entity_id", direction=direction)
            .toPandas()[["entity_id", "ts", "lval", "rval"]]
        )
        pd.testing.assert_frame_equal(got, want, check_dtype=False, atol=1e-12)


def test_asof_zero_leakage(spark, frames):
    left, right, ldf, rdf = frames
    out = asof_join(
        ldf, rdf, on="ts", by="entity_id", include_right_on=True
    ).toPandas()
    matched = out.dropna(subset=["ts_right"])
    assert (matched["ts_right"] <= matched["ts"]).all()
    assert len(out) == len(left)  # left join: every left row exactly once


def test_asof_forward_and_nearest(spark, frames):
    left, right, ldf, rdf = frames
    for direction in ("forward", "nearest"):
        got = _key(
            asof_join(ldf, rdf, on="ts", by="entity_id", direction=direction)
            .toPandas()[["entity_id", "ts", "lval", "rval"]]
        )
        want_pd = (
            pd.merge_asof(
                left.sort_values("ts"),
                right.sort_values("ts"),
                on="ts",
                by="entity_id",
                direction=direction,
            )
        )
        pd.testing.assert_frame_equal(
            got, _key(want_pd[["entity_id", "ts", "lval", "rval"]]),
            check_dtype=False, atol=1e-12,
        )


def test_asof_tolerance(spark, frames):
    left, right, ldf, rdf = frames
    tol = 2000.0
    got = _key(
        asof_join(ldf, rdf, on="ts", by="entity_id", tolerance=tol)
        .toPandas()[["entity_id", "ts", "lval", "rval"]]
    )
    want_pd = pd.merge_asof(
        left.sort_values("ts"),
        right.sort_values("ts"),
        on="ts",
        by="entity_id",
        direction="backward",
        tolerance=int(tol),
    )
    pd.testing.assert_frame_equal(
        got, _key(want_pd[["entity_id", "ts", "lval", "rval"]]),
        check_dtype=False, atol=1e-12,
    )


def test_asof_on_driver_events(spark):
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    clicks = events.where(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("value").alias("click_value")
    )
    purchases = events.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("value").alias("purchase_value")
    )
    out = asof_join(
        clicks, purchases, on="ts", by="user_id", include_right_on=True
    ).toPandas()
    assert len(out) == clicks.count()
    m = out.dropna(subset=["ts_right"])
    assert (m["ts_right"] <= m["ts"]).all()
    # oracle
    con = duckdb.connect()
    lp = clicks.toPandas()
    rp = purchases.toPandas()
    con.register("l", lp)
    con.register("r", rp)
    want = con.sql(
        """SELECT l.user_id, l.ts, l.click_value, r.purchase_value
           FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
           ORDER BY l.user_id, l.ts"""
    ).df()
    got = out[["user_id", "ts", "click_value", "purchase_value"]].sort_values(
        ["user_id", "ts"]
    ).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want, check_dtype=False, atol=1e-12)


# ---------------------------------------------------------------------------
# Window ops
# ---------------------------------------------------------------------------

def test_lag_lead_central_difference(spark):
    pdf = pd.DataFrame(
        {"k": ["a"] * 5 + ["b"] * 3, "t": [1, 2, 3, 4, 5, 1, 2, 3],
         "v": [1.0, 4.0, 9.0, 16.0, 25.0, 2.0, 4.0, 8.0]}
    )
    out = (
        lag_lead(spark.createDataFrame(pdf), by="k", order="t", value="v")
        .toPandas()
        .sort_values(["k", "t"])
        .reset_index(drop=True)
    )
    a = out[out.k == "a"]
    np.testing.assert_allclose(a["v_d1"].iloc[1:-1], [4.0, 6.0, 8.0])
    np.testing.assert_allclose(a["v_d2"].iloc[1:-1], [2.0, 2.0, 2.0])
    assert np.isnan(a["v_d1"].iloc[0]) and np.isnan(a["v_d1"].iloc[-1])


def test_backfill_causal(spark):
    pdf = pd.DataFrame(
        {
            "k": ["a"] * 6,
            "t": [1, 2, 3, 4, 5, 6],
            "v": [None, 10.0, None, None, 20.0, None],
        }
    )
    out = (
        backfill(spark.createDataFrame(pdf), by="k", order="t", cols="v")
        .toPandas()
        .sort_values("t")
    )
    want = [np.nan, 10.0, 10.0, 10.0, 20.0, 20.0]
    np.testing.assert_array_equal(out["v_filled"].to_numpy(), want)


def test_sessionize_gap_rule(spark):
    pdf = pd.DataFrame(
        {
            "k": ["u1"] * 6 + ["u2"] * 2,
            "t": [0, 10, 20, 100, 110, 300, 5, 500],
        }
    )
    out = (
        sessionize(spark.createDataFrame(pdf), by="k", ts="t", gap=50)
        .toPandas()
        .sort_values(["k", "t"])
    )
    u1 = out[out.k == "u1"]["session_id"].tolist()
    assert u1 == [1, 1, 1, 2, 2, 3]
    u2 = out[out.k == "u2"]["session_id"].tolist()
    assert u2 == [1, 2]


def test_session_stats(spark):
    pdf = pd.DataFrame({"k": ["u"] * 4, "t": [0, 10, 200, 210]})
    out = (
        session_stats(spark.createDataFrame(pdf), by="k", ts="t", gap=50)
        .toPandas()
        .sort_values("session_id")
        .reset_index(drop=True)
    )
    assert out["n_events"].tolist() == [2, 2]
    assert out["duration_sec"].tolist() == [10.0, 10.0]


def test_asof_broadcast_matches_duckdb(spark, frames):
    from image_feature_extraction_spark.operators.asof import asof_join_broadcast

    left, right, ldf, rdf = frames
    want = _key(_duck_asof(left, right))
    got = _key(
        asof_join_broadcast(ldf, rdf, on="ts", by="entity_id")
        .toPandas()[["entity_id", "ts", "lval", "rval"]]
    )
    pd.testing.assert_frame_equal(got, want, check_dtype=False, atol=1e-12)


def test_asof_broadcast_directions_and_tolerance(spark, frames):
    from image_feature_extraction_spark.operators.asof import asof_join_broadcast

    left, right, ldf, rdf = frames
    for direction, tol in (("forward", None), ("nearest", None), ("backward", 2000.0)):
        got = _key(
            asof_join_broadcast(
                ldf, rdf, on="ts", by="entity_id", direction=direction, tolerance=tol
            ).toPandas()[["entity_id", "ts", "lval", "rval"]]
        )
        want_pd = pd.merge_asof(
            left.sort_values("ts"), right.sort_values("ts"),
            on="ts", by="entity_id", direction=direction,
            tolerance=None if tol is None else int(tol),
        )
        pd.testing.assert_frame_equal(
            got, _key(want_pd[["entity_id", "ts", "lval", "rval"]]),
            check_dtype=False, atol=1e-12,
        )


def test_asof_broadcast_timestamp_column(spark):
    from image_feature_extraction_spark.operators.asof import asof_join_broadcast

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    clicks = events.where(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("value").alias("click_value")
    )
    purchases = events.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("value").alias("purchase_value")
    )
    out = asof_join_broadcast(
        clicks, purchases, on="ts", by="user_id", include_right_on=True
    ).toPandas()
    assert len(out) == clicks.count()
    m = out.dropna(subset=["ts_right"])
    assert (m["ts_right"] <= m["ts"]).all()
    con = duckdb.connect()
    con.register("l", clicks.toPandas())
    con.register("r", purchases.toPandas())
    want = con.sql(
        """SELECT l.user_id, l.ts, l.click_value, r.purchase_value
           FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
           ORDER BY l.user_id, l.ts"""
    ).df()
    got = out[["user_id", "ts", "click_value", "purchase_value"]].sort_values(
        ["user_id", "ts"]
    ).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want, check_dtype=False, atol=1e-12)


def test_flagship_asof_no_leakage_and_matches_pandas(spark):
    """The flagship's broadcast as-of attaches per-source hourly stats
    stamped at bucket END: a doc must only ever see stats from a strictly
    earlier hour (zero leakage), and values must equal pandas merge_asof."""
    import bench

    n = 400
    feats = bench.flagship_pipeline(spark, n)
    got = (
        feats.select("doc_id", "source", "ts", "bucket_docs", "bucket_mean_len")
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    from image_feature_extraction_spark import synth

    meta = synth.doc_meta_pandas(n)
    stats = meta.copy()
    stats["ts"] = (stats["ts"] // 3600) * 3600 + 3600
    stats = stats.groupby(["source", "ts"], as_index=False).agg(
        bucket_docs=("doc_id", "count"), bucket_mean_len=("n_tok", "mean")
    )
    want = (
        pd.merge_asof(
            meta.sort_values("ts"),
            stats.sort_values("ts"),
            on="ts",
            by="source",
            direction="backward",
        )
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        got[["doc_id", "bucket_docs", "bucket_mean_len"]],
        want[["doc_id", "bucket_docs", "bucket_mean_len"]],
        check_dtype=False,
    )
    # leakage check: matched stats bucket must END at or before the doc ts
    m = got.dropna(subset=["bucket_docs"]).merge(
        stats.rename(columns={"ts": "stat_ts"}),
        left_on=["source", "bucket_docs", "bucket_mean_len"],
        right_on=["source", "bucket_docs", "bucket_mean_len"],
    )
    assert (m["stat_ts"] <= m["ts"]).all()


def test_asof_multi_key_by(spark):
    """Composite entity key (by=[k1,k2]) for both strategies."""
    from image_feature_extraction_spark.operators.asof import (
        asof_join,
        asof_join_broadcast,
    )

    rng = np.random.default_rng(42)
    left = pd.DataFrame(
        {
            "k1": rng.integers(0, 3, 200),
            "k2": rng.choice(["x", "y"], 200),
            "ts": rng.integers(0, 10_000, 200).astype(np.int64),
            "lv": rng.normal(size=200),
        }
    ).drop_duplicates(["k1", "k2", "ts"])
    right = pd.DataFrame(
        {
            "k1": rng.integers(0, 3, 80),
            "k2": rng.choice(["x", "y"], 80),
            "ts": rng.integers(0, 10_000, 80).astype(np.int64),
            "rv": rng.normal(size=80),
        }
    ).drop_duplicates(["k1", "k2", "ts"])
    ldf, rdf = spark.createDataFrame(left), spark.createDataFrame(right)
    want = (
        pd.merge_asof(
            left.sort_values("ts"), right.sort_values("ts"),
            on="ts", by=["k1", "k2"], direction="backward",
        )
        .sort_values(["k1", "k2", "ts", "lv"]).reset_index(drop=True)
    )[["k1", "k2", "ts", "lv", "rv"]]
    for fn in (asof_join, asof_join_broadcast):
        got = (
            fn(ldf, rdf, on="ts", by=["k1", "k2"])
            .toPandas()[["k1", "k2", "ts", "lv", "rv"]]
            .sort_values(["k1", "k2", "ts", "lv"]).reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(got, want, check_dtype=False, atol=1e-12)


def test_asof_bucketed_extreme_skew(spark):
    """One entity holds 96% of all events (hot-entity skew): the entity
    window holds it in one task and must stay correct."""
    rng = np.random.default_rng(99)
    n_hot, n_cold = 20_000, 800
    left = pd.DataFrame(
        {
            "entity_id": np.concatenate(
                [np.zeros(n_hot, np.int64), rng.integers(1, 50, n_cold)]
            ),
            "ts": np.concatenate(
                [
                    rng.integers(0, 1_000_000, n_hot),
                    rng.integers(0, 1_000_000, n_cold),
                ]
            ).astype(np.int64),
            "lv": rng.normal(size=n_hot + n_cold),
        }
    ).drop_duplicates(["entity_id", "ts"])
    right = pd.DataFrame(
        {
            "entity_id": np.concatenate(
                [np.zeros(3000, np.int64), rng.integers(1, 50, 200)]
            ),
            "ts": rng.integers(0, 1_000_000, 3200).astype(np.int64),
            "rv": rng.normal(size=3200),
        }
    ).drop_duplicates(["entity_id", "ts"])
    ldf, rdf = spark.createDataFrame(left), spark.createDataFrame(right)
    got = _key(
        asof_join(ldf, rdf, on="ts", by="entity_id")
        .toPandas()[["entity_id", "ts", "lv", "rv"]]
        .rename(columns={"lv": "lval", "rv": "rval"})
    )
    want = _key(
        pd.merge_asof(
            left.sort_values("ts"), right.sort_values("ts"),
            on="ts", by="entity_id", direction="backward",
        )[["entity_id", "ts", "lv", "rv"]].rename(columns={"lv": "lval", "rv": "rval"})
    )
    pd.testing.assert_frame_equal(got, want, check_dtype=False, atol=1e-12)


def test_flagship_fused_equals_unfused(spark):
    """The single-stage flagship must equal the three public operators
    run as three stages, row for row: token arrays, as-of matches and
    bit-identical features. A ``select("*")`` between the operators
    breaks their chain, so the reference really is staged."""
    from image_feature_extraction_spark import synth
    from image_feature_extraction_spark.operators.asof import asof_join_broadcast
    from image_feature_extraction_spark.operators.features import extract_features
    from image_feature_extraction_spark.plans.audit import plan_counts
    from image_feature_extraction_spark.plans.flagship import (
        SCALES,
        flagship_pipeline,
        flagship_stats,
    )

    n = 300
    stats = flagship_stats(spark, n)
    docs = synth.token_table(spark, n).select("*")
    joined = asof_join_broadcast(docs, stats, on="ts", by="source").select("*")
    composed = extract_features(joined, scales=SCALES)
    assert plan_counts(composed)["arrow"] == 3

    def rows(df):
        return df.toPandas().sort_values("doc_id").reset_index(drop=True)

    a, b = rows(flagship_pipeline(spark, n, stats=stats)), rows(composed)
    assert list(a.columns) == list(b.columns)
    arrays = ["tokens", "features"]
    pd.testing.assert_frame_equal(
        a.drop(columns=arrays), b.drop(columns=arrays), check_dtype=False
    )
    for c in arrays:
        for x, y in zip(a[c], b[c]):
            assert np.array_equal(np.asarray(x), np.asarray(y))


def test_asof_bucket_boundary_timestamps(spark):
    """Left rows on right timestamps match them inclusively in both
    directions (right rows sort before left rows at an equal ts)."""
    left = pd.DataFrame(
        {
            "entity_id": [1] * 6,
            "ts": [0, 100, 150, 200, 300, 399],  # 0,100,200,300 exact hits
            "lval": [10.0, 11.0, 11.5, 12.0, 13.0, 13.9],
        }
    )
    right = pd.DataFrame(
        {
            "entity_id": [1] * 4,
            "ts": [0, 100, 200, 300],
            "rval": [1.0, 2.0, 3.0, 4.0],
        }
    )
    ldf, rdf = spark.createDataFrame(left), spark.createDataFrame(right)
    got = (
        asof_join(ldf, rdf, on="ts", by="entity_id")
        .toPandas()
        .sort_values("ts")
        .reset_index(drop=True)
    )
    assert got["rval"].tolist() == [1.0, 2.0, 2.0, 3.0, 4.0, 4.0]
    # forward: inclusive match at equal ts
    gotf = (
        asof_join(ldf, rdf, on="ts", by="entity_id", direction="forward")
        .toPandas()
        .sort_values("ts")
        .reset_index(drop=True)
    )
    assert gotf["rval"].tolist()[:5] == [1.0, 2.0, 3.0, 3.0, 4.0]
    assert np.isnan(gotf["rval"].iloc[5])  # nothing after 399


@pytest.mark.parametrize("seed", [7, 21, 1234])
def test_asof_randomized_property(spark, seed):
    """Randomized shapes vs DuckDB: singleton entities, duplicate left
    timestamps, negative times, entities missing on either side."""
    rng = np.random.default_rng(seed)
    n_l, n_r = 300, 120
    left = pd.DataFrame(
        {
            "entity_id": rng.integers(-3, 8, n_l),
            "ts": rng.integers(-5_000, 5_000, n_l).astype(np.int64),
            "lval": np.arange(n_l, dtype=np.float64),  # unique -> stable sort key
        }
    )
    right = pd.DataFrame(
        {
            "entity_id": rng.integers(-5, 6, n_r),
            "ts": rng.integers(-5_000, 5_000, n_r).astype(np.int64),
            "rval": rng.normal(size=n_r),
        }
    ).drop_duplicates(["entity_id", "ts"])
    ldf, rdf = spark.createDataFrame(left), spark.createDataFrame(right)
    con = duckdb.connect()
    con.register("l", left)
    con.register("r", right)
    want = con.sql(
        """SELECT l.entity_id, l.ts, l.lval, r.rval
           FROM l ASOF LEFT JOIN r
             ON l.entity_id = r.entity_id AND l.ts >= r.ts
           ORDER BY l.lval"""
    ).df().reset_index(drop=True)
    got = (
        asof_join(ldf, rdf, on="ts", by="entity_id")
        .toPandas()[["entity_id", "ts", "lval", "rval"]]
        .sort_values("lval")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want, check_dtype=False, atol=1e-12)


# ---------------------------------------------------------------------------
# Round 2: duplicate-right-ts tie-break, interpolate, strategy selector,
# tz-aware broadcast
# ---------------------------------------------------------------------------

def _dup_ts_frames():
    """Right side with DUPLICATE (entity, ts) rows: the tie-break contract
    is backward -> greatest payload, forward -> least payload, identical
    across strategies."""
    left = pd.DataFrame(
        {
            "entity_id": [1, 1, 1, 2],
            "ts": [500, 1500, 2500, 900],
            "lval": [0.0, 1.0, 2.0, 3.0],
        }
    )
    right = pd.DataFrame(
        {
            "entity_id": [1, 1, 1, 1, 2, 2],
            "ts": [1000, 1000, 2000, 2000, 800, 800],
            "rval": [5.0, 9.0, -3.0, 4.0, 1.0, 2.0],
        }
    )
    return left, right


def test_asof_duplicate_right_ts_tie_break(spark):
    from image_feature_extraction_spark.operators.asof import asof_join_broadcast

    left, right = _dup_ts_frames()
    ldf, rdf = spark.createDataFrame(left), spark.createDataFrame(right)

    # forward: least payload among equal ts; backward: greatest
    want_fwd = {(1, 500): 5.0, (1, 1500): -3.0, (1, 2500): None, (2, 900): None}
    want_bwd = {(1, 500): None, (1, 1500): 9.0, (1, 2500): 4.0, (2, 900): 2.0}

    def check(df, want):
        got = {
            (r.entity_id, r.ts): r.rval
            for r in df.select("entity_id", "ts", "rval").collect()
        }
        for k, v in want.items():
            if v is None:
                assert got[k] is None or pd.isna(got[k]), (k, got[k])
            else:
                assert got[k] == v, (k, got[k], v)

    for fn in (asof_join, asof_join_broadcast):
        check(fn(ldf, rdf, on="ts", by="entity_id", direction="forward"), want_fwd)
        check(fn(ldf, rdf, on="ts", by="entity_id", direction="backward"), want_bwd)


def test_asof_interpolate_manual_and_parity(spark):
    from image_feature_extraction_spark.operators.asof import asof_join_broadcast

    left = pd.DataFrame(
        {
            "entity_id": [1, 1, 1, 1, 1, 2],
            # 1000 exact hit; 1250 mid; 1999/2001 either side of the
            # 2000 sample; 500 outside hull (before first right row)
            "ts": [1000, 1250, 1999, 2001, 500, 777],
            "lval": [0.0] * 6,
        }
    )
    right = pd.DataFrame(
        {
            "entity_id": [1, 1, 1],
            "ts": [1000, 2000, 3000],
            "rval": [10.0, 20.0, 40.0],
        }
    )
    want = {
        (1, 1000): 10.0,                              # exact hit -> sample
        (1, 1250): 10.0 + 10.0 * 0.25,                # plain lerp
        (1, 1999): 10.0 + 10.0 * 0.999,               # just below boundary
        (1, 2001): 20.0 + 20.0 * (1.0 / 1000.0),      # just above boundary
        (1, 500): None,                               # outside hull
        (2, 777): None,                               # entity absent on right
    }
    ldf, rdf = spark.createDataFrame(left), spark.createDataFrame(right)

    def got_of(df):
        return {
            (r.entity_id, r.ts): r.rval
            for r in df.select("entity_id", "ts", "rval").collect()
        }

    results = [
        got_of(asof_join(ldf, rdf, on="ts", by="entity_id",
                         direction="interpolate"))
    ]
    results.append(
        got_of(asof_join_broadcast(ldf, rdf, on="ts", by="entity_id",
                                   direction="interpolate"))
    )
    for got in results:
        for k, v in want.items():
            if v is None:
                assert got[k] is None or pd.isna(got[k]), (k, got[k])
            else:
                assert got[k] == pytest.approx(v, abs=1e-12), (k, got[k], v)
    # strategies agree bit-for-bit
    for got in results[1:]:
        assert got == results[0] or all(
            (pd.isna(got[k]) and pd.isna(results[0][k])) or got[k] == results[0][k]
            for k in want
        )


def test_asof_interpolate_tolerance(spark):
    left = pd.DataFrame({"entity_id": [1, 1], "ts": [1500, 2990], "lval": [0.0, 0.0]})
    right = pd.DataFrame(
        {"entity_id": [1, 1], "ts": [1000, 3000], "rval": [10.0, 30.0]}
    )
    ldf, rdf = spark.createDataFrame(left), spark.createDataFrame(right)
    out = asof_join(
        ldf, rdf, on="ts", by="entity_id", direction="interpolate",
        tolerance=600.0,
    )
    got = {(r.entity_id, r.ts): r.rval for r in out.collect()}
    # ts=1500: bracket gap sides 500/1500 -> far side exceeds tolerance -> null
    assert got[(1, 1500)] is None or pd.isna(got[(1, 1500)])
    # ts=2990: sides 1990/10 -> far side exceeds tolerance -> null
    assert got[(1, 2990)] is None or pd.isna(got[(1, 2990)])
    out2 = asof_join(
        ldf, rdf, on="ts", by="entity_id", direction="interpolate",
        tolerance=2000.0,
    )
    got2 = {(r.entity_id, r.ts): r.rval for r in out2.collect()}
    assert got2[(1, 1500)] == pytest.approx(10.0 + 20.0 * 0.25)
    assert got2[(1, 2990)] == pytest.approx(10.0 + 20.0 * 0.995)


def test_asof_strategy_selector(spark, frames):
    from image_feature_extraction_spark.operators.asof import (
        asof_join_auto,
        choose_asof_strategy,
    )

    left, right, ldf, rdf = frames
    assert choose_asof_strategy(rdf, broadcast_max_rows=10_000) == "broadcast"
    assert choose_asof_strategy(rdf, broadcast_max_rows=10) == "window"

    want = _key(_duck_asof(left, right))
    for cap, strategy in ((10_000, "broadcast"), (10, "window")):
        out = asof_join_auto(ldf, rdf, on="ts", by="entity_id", broadcast_max_rows=cap)
        assert out._asof_strategy == strategy
        got = _key(out.toPandas()[["entity_id", "ts", "lval", "rval"]])
        pd.testing.assert_frame_equal(got, want, check_dtype=False, atol=1e-12)


def test_asof_auto_unpersists_right_when_strategy_raises(spark):
    """asof_join_auto caches the right side for its probe; a strategy that
    rejects its arguments must not leave the caller's frame cached."""
    from image_feature_extraction_spark.operators.asof import asof_join_auto

    left = spark.createDataFrame(pd.DataFrame({"entity_id": [1], "ts": [10.0]}))
    right = spark.createDataFrame(
        pd.DataFrame({"entity_id": [1], "ts": [5.0], "name": ["x"]})
    )
    for cap in (10, 0):  # broadcast, then the window merge
        with pytest.raises(ValueError, match="numeric right columns"):
            asof_join_auto(
                left, right, on="ts", by="entity_id", direction="interpolate",
                broadcast_max_rows=cap,
            )
        assert not right.is_cached, cap


def test_asof_broadcast_and_cogroup_timestamp_ltz(spark):
    """TIMESTAMP (with local tz) time column: regression for the
    DatetimeTZDtype crash in the broadcast index build, which must agree
    with the JVM merge."""
    from image_feature_extraction_spark.operators.asof import asof_join_broadcast

    lp = pd.DataFrame(
        {
            "entity_id": [1, 1, 2],
            "ts": pd.to_datetime(
                ["2024-01-01 00:00:10", "2024-01-01 00:01:00", "2024-01-01 00:00:30"]
            ).tz_localize("UTC"),
            "lval": [1.0, 2.0, 3.0],
        }
    )
    rp = pd.DataFrame(
        {
            "entity_id": [1, 1, 2],
            "ts": pd.to_datetime(
                ["2024-01-01 00:00:05", "2024-01-01 00:00:50", "2024-01-01 00:00:40"]
            ).tz_localize("UTC"),
            "rval": [100.0, 200.0, 300.0],
        }
    )
    ldf, rdf = spark.createDataFrame(lp), spark.createDataFrame(rp)
    assert dict(ldf.dtypes)["ts"] == "timestamp"  # ltz, not ntz
    want = {(1, 10): 100.0, (1, 60): 200.0, (2, 30): None}
    for fn in (asof_join_broadcast, asof_join):
        out = fn(ldf, rdf, on="ts", by="entity_id", include_right_on=True)
        rows = out.select(
            "entity_id", F.col("ts").cast("long").alias("sec"), "rval", "ts_right"
        ).collect()
        got = {(r.entity_id, r.sec % 3600): r.rval for r in rows}
        assert got == want or all(
            (want[k] is None and (got[k] is None or pd.isna(got[k])))
            or got[k] == want[k]
            for k in want
        )
        # matched right timestamps keep timestamp type and never exceed left ts
        for r in rows:
            if r.ts_right is not None:
                assert r.ts_right.timestamp() <= r.sec


@pytest.mark.parametrize("seed", [11, 23])
def test_asof_interpolate_randomized_property(spark, seed):
    """Randomized lerp property vs a numpy oracle, a third of the right
    timestamps on a 1000 grid: for every left row inside the hull,
    value = vb + (vf - vb) * (t - tb)/(tf - tb); null outside."""
    rng = np.random.default_rng(seed)
    n_l, n_r = 300, 60
    left = pd.DataFrame(
        {
            "entity_id": rng.integers(0, 6, n_l).astype(np.int64),
            "ts": rng.integers(-5000, 5000, n_l).astype(np.int64),
            "lval": rng.normal(size=n_l),
        }
    ).drop_duplicates(["entity_id", "ts"])
    rts = rng.integers(-5000, 5000, n_r)
    rts[: n_r // 3] = (rts[: n_r // 3] // 1000) * 1000
    right = pd.DataFrame(
        {
            "entity_id": rng.integers(0, 7, n_r).astype(np.int64),
            "ts": rts.astype(np.int64),
            "rval": rng.normal(size=n_r),
        }
    ).drop_duplicates(["entity_id", "ts"])

    def oracle(lrow):
        grp = right[right.entity_id == lrow.entity_id].sort_values("ts")
        if not len(grp):
            return None
        t = lrow.ts
        back = grp[grp.ts <= t]
        fwd = grp[grp.ts >= t]
        if not len(back) or not len(fwd):
            return None
        tb, vb = float(back.iloc[-1].ts), float(back.iloc[-1].rval)
        tf, vf = float(fwd.iloc[0].ts), float(fwd.iloc[0].rval)
        frac = (t - tb) / (tf - tb) if tf > tb else 0.0
        return vb + (vf - vb) * frac

    want = {
        (r.entity_id, r.ts): oracle(r) for r in left.itertuples()
    }
    ldf, rdf = spark.createDataFrame(left), spark.createDataFrame(right)
    out = asof_join(ldf, rdf, on="ts", by="entity_id", direction="interpolate")
    got = {(r.entity_id, r.ts): r.rval for r in out.collect()}
    assert set(got) == set(want)
    for k, v in want.items():
        if v is None:
            assert got[k] is None or pd.isna(got[k]), (k, got[k])
        else:
            assert got[k] == pytest.approx(v, rel=1e-12), k


def test_gaussian_time_smooth_hand_values(spark):
    from image_feature_extraction_spark.operators.windows import gaussian_time_smooth

    sigma = 10.0
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "entity_id": [1, 1, 1, 1, 2],
                "ts": [0.0, 10.0, 20.0, 200.0, 50.0],
                "v": [1.0, None, 3.0, None, 7.0],
            }
        )
    )
    out = gaussian_time_smooth(
        df, by="entity_id", ts="ts", value="v", sigma=sigma, cutoff=3.0
    ).toPandas()
    got = {(r.entity_id, r.ts): r.smoothed for _, r in out.iterrows()}
    w = lambda dt: np.exp(-(dt * dt) / (2 * sigma * sigma))  # noqa: E731
    # row (1, 10): missing value, neighbors at 0 (v=1) and 20 (v=3),
    # both at distance 10 -> interpolates to exactly 2
    assert got[(1, 10.0)] == pytest.approx(2.0, rel=1e-12)
    # row (1, 0): neighbors self (w=1,v=1) and t=20 (w(20), v=3)
    want0 = (1.0 * 1.0 + w(20) * 3.0) / (1.0 + w(20))
    assert got[(1, 0.0)] == pytest.approx(want0, rel=1e-12)
    # row (1, 200): missing, no observed neighbor within 30 -> null
    assert got[(1, 200.0)] is None or pd.isna(got[(1, 200.0)])
    # isolated observed row smooths to itself
    assert got[(2, 50.0)] == pytest.approx(7.0)
    assert len(out) == 5
    # duplicate rows stay distinct
    dup = spark.createDataFrame(
        pd.DataFrame({"entity_id": [1, 1], "ts": [5.0, 5.0], "v": [2.0, 2.0]})
    )
    assert gaussian_time_smooth(
        dup, by="entity_id", ts="ts", value="v", sigma=sigma
    ).count() == 2


@pytest.mark.parametrize("seed", [5])
def test_asof_strategy_direction_matrix(spark, seed):
    """Both physical strategies implement identical semantics: for random
    frames (duplicate timestamps included), asof_join and broadcast agree
    on backward / forward / nearest / interpolate / cubic."""
    from image_feature_extraction_spark.operators.asof import asof_join_broadcast

    rng = np.random.default_rng(seed)
    n_l, n_r = 250, 80
    left = pd.DataFrame(
        {
            "entity_id": rng.integers(0, 8, n_l).astype(np.int64),
            "ts": rng.integers(0, 10_000, n_l).astype(np.int64),
            "lval": np.arange(n_l, dtype=np.float64),
        }
    ).drop_duplicates(["entity_id", "ts"])
    right = pd.DataFrame(
        {
            "entity_id": rng.integers(0, 9, n_r).astype(np.int64),
            "ts": rng.integers(0, 10_000, n_r).astype(np.int64),
            "rval": rng.normal(size=n_r),
        }
    )  # duplicates kept on purpose
    ldf, rdf = spark.createDataFrame(left), spark.createDataFrame(right)

    def key(df):
        p = df.toPandas().sort_values(["entity_id", "ts", "lval"]).reset_index(drop=True)
        return list(
            zip(p.entity_id, p.ts, [None if pd.isna(v) else v for v in p.rval])
        )

    for direction in ("backward", "forward", "nearest", "interpolate", "cubic"):
        outs = [
            key(fn(ldf, rdf, on="ts", by="entity_id", direction=direction))
            for fn in (asof_join, asof_join_broadcast)
        ]
        for i, o in enumerate(outs[1:], 1):
            assert o == outs[0], f"{direction}: variant {i} disagrees"


def test_nearest_event_distance_duplicate_ts(spark):
    """A marker sharing the row's timestamp is distance 0 for EVERY row at
    that timestamp, regardless of tie order (RANGE-frame semantics)."""
    from image_feature_extraction_spark.operators.windows import (
        nearest_event_distance,
    )

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "entity_id": [1, 1, 1, 1],
                "ts": [100.0, 100.0, 100.0, 250.0],
                "kind": ["a", "marker", "b", "c"],
            }
        )
    )
    out = nearest_event_distance(
        df, by="entity_id", ts="ts", marker=F.col("kind") == "marker"
    ).toPandas()
    got = {(r.kind): r.dist_to_marker for _, r in out.iterrows()}
    assert got["a"] == 0.0 and got["b"] == 0.0 and got["marker"] == 0.0
    assert got["c"] == 150.0


# ---------------------------------------------------------------------------
# Cubic (non-uniform Catmull-Rom) as-of interpolation — reference N8's
# default 3rd-order interpolator (tools/ExtractWindow.cxx:134-141)
# ---------------------------------------------------------------------------

def _cubic_ref(t, ts, ys):
    """Independent per-point reference: cubic Hermite with chordal
    central-difference tangents, written WITHOUT the operator's vectorized
    helper so the two derivations can disagree."""
    import bisect

    n = len(ts)
    i2 = bisect.bisect_left(ts, t)
    i1 = bisect.bisect_right(ts, t) - 1
    if i1 < 1 or i2 > n - 2:
        return None
    t0, t1, t2, t3 = ts[i1 - 1], ts[i1], ts[i2], ts[i2 + 1]
    y0, y1, y2, y3 = ys[i1 - 1], ys[i1], ys[i2], ys[i2 + 1]
    h = t2 - t1
    if h == 0:
        return y1
    s = (t - t1) / h
    m1 = (y2 - y0) / (t2 - t0)
    m2 = (y3 - y1) / (t3 - t1)
    return (
        (2 * s**3 - 3 * s**2 + 1) * y1
        + (s**3 - 2 * s**2 + s) * h * m1
        + (-2 * s**3 + 3 * s**2) * y2
        + (s**3 - s**2) * h * m2
    )


def test_asof_cubic_known_values(spark):
    from image_feature_extraction_spark.operators.asof import asof_join_broadcast

    # uniform grid + quadratic samples: central differences are exact
    # derivatives, so Catmull-Rom REPRODUCES the quadratic
    ts = [0.0, 10.0, 20.0, 30.0, 40.0]
    ys = [t * t for t in ts]
    right = spark.createDataFrame(
        pd.DataFrame({"entity_id": [1] * 5, "ts": ts, "v": ys})
    )
    probes = [12.5, 15.0, 27.5, 10.0, 30.0, 5.0, 35.0, 0.0, 40.0, 50.0]
    left = spark.createDataFrame(
        pd.DataFrame({"entity_id": [1] * len(probes), "ts": probes})
    )
    res = {}
    for fn in (asof_join_broadcast, asof_join):
        out = res[fn.__name__] = {
            r["ts"]: r["v"]
            for r in fn(left, right, on="ts", by="entity_id", direction="cubic").collect()
        }
        # interior probes reproduce t^2 exactly (uniform grid)
        for t in (12.5, 15.0, 27.5):
            assert out[t] == pytest.approx(t * t, abs=1e-9), (fn.__name__, t)
        # exact hits with a full stencil return the sample itself
        assert out[10.0] == 100.0 and out[30.0] == 900.0, fn.__name__
        # stencil short on either side (incl. boundary exact hits) -> null
        for t in (5.0, 35.0, 0.0, 40.0, 50.0):
            assert out[t] is None or np.isnan(out[t]), (fn.__name__, t)
    assert res["asof_join"] == res["asof_join_broadcast"]  # bitwise parity


@pytest.mark.parametrize("seed", [3, 17])
def test_asof_cubic_randomized_property(spark, seed):
    """Strategy parity (broadcast == asof_join bitwise) and agreement with
    an independent scalar reference, including probes AT stencil
    boundaries."""
    from image_feature_extraction_spark.operators.asof import asof_join_broadcast

    rng = np.random.default_rng(seed)
    rows_r, rows_l = [], []
    series = {}
    for e in range(6):
        n = int(rng.integers(1, 12))
        ts = np.sort(rng.choice(np.arange(0, 500, 1), size=n, replace=False)).astype(float)
        ys = rng.normal(0, 100, n).round(3)
        series[e] = (ts.tolist(), ys.tolist())
        rows_r += [(e, t, y) for t, y in zip(ts, ys)]
        probes = np.concatenate([
            rng.uniform(-20, 520, 10),   # uniform probes
            ts[: min(4, n)],             # exact hits
            ts[: min(4, n)] + 0.25,      # just past samples
        ])
        rows_l += [(e, float(t)) for t in probes]
    right = spark.createDataFrame(pd.DataFrame(rows_r, columns=["entity_id", "ts", "v"]))
    left = spark.createDataFrame(pd.DataFrame(rows_l, columns=["entity_id", "ts"]))

    res = {}
    for fn in (asof_join_broadcast, asof_join):
        out = fn(left, right, on="ts", by="entity_id", direction="cubic").toPandas()
        res[fn.__name__] = out.sort_values(["entity_id", "ts"]).reset_index(drop=True)
    a, b = res["asof_join_broadcast"], res["asof_join"]
    assert len(a) == len(b) == len(rows_l)
    av, bv = a["v"].to_numpy(), b["v"].to_numpy()
    assert ((av == bv) | (np.isnan(av) & np.isnan(bv))).all()  # bitwise parity

    for _, r in a.iterrows():
        ts, ys = series[r["entity_id"]]
        want = _cubic_ref(r["ts"], ts, ys)
        if want is None:
            assert np.isnan(r["v"]), r
        else:
            assert r["v"] == pytest.approx(want, rel=1e-12), r


def test_asof_cubic_strategy_restrictions(spark):
    from image_feature_extraction_spark.operators.asof import asof_join_auto

    left = spark.createDataFrame(pd.DataFrame({"entity_id": [1], "ts": [10.0]}))
    right = spark.createDataFrame(
        pd.DataFrame({"entity_id": [1] * 4, "ts": [0.0, 5.0, 15.0, 20.0], "v": [1.0, 2.0, 3.0, 4.0]})
    )
    # auto above the broadcast cap routes cubic to the window merge
    out = asof_join_auto(
        left, right, on="ts", by="entity_id", direction="cubic",
        broadcast_max_rows=2,
    )
    assert out._asof_strategy == "window"
    assert out.collect()[0]["v"] is not None
