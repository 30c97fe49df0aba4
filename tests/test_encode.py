"""Leakage-freedom and replay tests for operators/encode.py.

The invariants under test:

1. A row's features depend ONLY on strictly-earlier history — perturbing
   any value at time >= t (including same-timestamp peers / same-bucket
   rows) must not change the features of rows at time t.
2. The Spark output matches an independent pure-pandas replay of the
   definition (allclose; exactness vs DuckDB is the driver gate).
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pandas as pd
import pytest

from image_feature_extraction_spark.operators import encode as EN

T0 = dt.datetime(2024, 1, 1)


def _frame(spark, rows):
    pdf = pd.DataFrame(rows, columns=["id", "ent", "ts", "value"])
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    return spark.createDataFrame(pdf)


def _ts(sec):
    return T0 + dt.timedelta(seconds=float(sec))


@pytest.fixture(scope="module")
def zs_rows():
    # entity a: distinct ts; entity b: duplicate timestamps at t=20
    return [
        (0, "a", _ts(0), 10.0),
        (1, "a", _ts(10), 20.0),
        (2, "a", _ts(20), 40.0),
        (3, "b", _ts(0), 5.0),
        (4, "b", _ts(10), 7.0),
        (5, "b", _ts(20), 100.0),
        (6, "b", _ts(20), -100.0),
        (7, "b", _ts(30), 9.0),
    ]


def test_expanding_zscore_replay_and_peers(spark, zs_rows):
    out = (
        EN.expanding_zscore(_frame(spark, zs_rows), by="ent", ts="ts", value="value")
        .orderBy("id")
        .toPandas()
    )
    # Independent replay: strictly-earlier-ts population stats.
    rows = pd.DataFrame(zs_rows, columns=["id", "ent", "ts", "value"])
    for _, r in rows.iterrows():
        past = rows[(rows.ent == r.ent) & (rows.ts < r.ts)].value.to_numpy()
        got = out[out.id == r.id].iloc[0]
        assert got.z_n_prev == len(past)
        if len(past) >= 1:
            assert np.isclose(got.z_mean_prev, past.mean())
        else:
            assert pd.isna(got.z_mean_prev)
        if len(past) >= 2 and past.var() > 0:
            assert np.isclose(got.z_var_prev, past.var())
            assert np.isclose(
                got.z_score, (r.value - past.mean()) / np.sqrt(past.var())
            )
        else:
            assert pd.isna(got.z_score)
    # Duplicate-ts peers share history and never see each other.
    p5 = out[out.id == 5].iloc[0]
    p6 = out[out.id == 6].iloc[0]
    assert p5.z_n_prev == p6.z_n_prev == 2
    assert p5.z_mean_prev == p6.z_mean_prev == 6.0


def test_expanding_zscore_no_future_leakage(spark, zs_rows):
    base = (
        EN.expanding_zscore(_frame(spark, zs_rows), by="ent", ts="ts", value="value")
        .orderBy("id")
        .toPandas()
    )
    # Perturb every value at t >= 20 (incl. both same-ts peers of entity b).
    mutated = [
        (i, e, t, v + 1000.0 if t >= _ts(20) else v) for i, e, t, v in zs_rows
    ]
    out = (
        EN.expanding_zscore(_frame(spark, mutated), by="ent", ts="ts", value="value")
        .orderBy("id")
        .toPandas()
    )
    early = base.id[[t < _ts(20) for _, _, t, _ in zs_rows]].tolist()
    cols = ["z_n_prev", "z_mean_prev", "z_var_prev", "z_score"]
    pd.testing.assert_frame_equal(
        base[base.id.isin(early)][cols].reset_index(drop=True),
        out[out.id.isin(early)][cols].reset_index(drop=True),
    )
    # Rows AT t=20 keep their features too (peers excluded; only the
    # score shifts through the row's own perturbed value).
    for rid in (2, 5, 6):
        b, o = base[base.id == rid].iloc[0], out[out.id == rid].iloc[0]
        assert b.z_n_prev == o.z_n_prev
        assert (pd.isna(b.z_mean_prev) and pd.isna(o.z_mean_prev)) or (
            b.z_mean_prev == o.z_mean_prev
        )


def test_target_encode_replay_and_bucket_exclusion(spark):
    rows = [
        (0, "x", _ts(0), 10.0),
        (1, "x", _ts(100), 30.0),      # same bucket as id 0
        (2, "x", _ts(3700), 50.0),     # bucket 1
        (3, "x", _ts(7300), 70.0),     # bucket 2
        (4, "y", _ts(3650), 8.0),      # y's first bucket
        (5, "y", _ts(7250), 12.0),
    ]
    out = (
        EN.target_encode(
            _frame(spark, rows), by="ent", ts="ts", label="value", time_bucket=3600.0
        )
        .orderBy("id")
        .toPandas()
    )
    m, prior = EN.TE_SMOOTHING_M, EN.TE_PRIOR
    rdf = pd.DataFrame(rows, columns=["id", "ent", "ts", "value"])
    rdf["bucket"] = (rdf.ts - T0).dt.total_seconds() // 3600
    for _, r in rdf.iterrows():
        past = rdf[(rdf.ent == r.ent) & (rdf.bucket < r.bucket)].value.to_numpy()
        got = out[out.id == r.id].iloc[0]
        assert got.te_n_prev == len(past)
        assert np.isclose(
            got.te_enc, (past.sum() + m * prior) / (len(past) + m)
        )
        if len(past) == 0:
            assert pd.isna(got.te_mean_prev)
            assert np.isclose(got.te_enc, prior)  # degrades to the prior
        else:
            assert np.isclose(got.te_mean_prev, past.mean())
    # Same-bucket exclusion: ids 0 and 1 share bucket 0 -> both unseen.
    assert out[out.id == 0].iloc[0].te_n_prev == 0
    assert out[out.id == 1].iloc[0].te_n_prev == 0


def test_target_encode_no_future_leakage(spark):
    rows = [
        (0, "x", _ts(0), 10.0),
        (1, "x", _ts(3700), 50.0),
        (2, "x", _ts(7300), 70.0),
    ]
    base = (
        EN.target_encode(
            _frame(spark, rows), by="ent", ts="ts", label="value", time_bucket=3600.0
        )
        .orderBy("id")
        .toPandas()
    )
    mutated = [(i, e, t, v + 500.0 if i == 2 else v) for i, e, t, v in rows]
    out = (
        EN.target_encode(
            _frame(spark, mutated), by="ent", ts="ts", label="value", time_bucket=3600.0
        )
        .orderBy("id")
        .toPandas()
    )
    cols = ["te_n_prev", "te_mean_prev", "te_enc"]
    pd.testing.assert_frame_equal(
        base[base.id < 2][cols].reset_index(drop=True),
        out[out.id < 2][cols].reset_index(drop=True),
    )


def test_expanding_robust_stats_replay(spark, zs_rows):
    out = (
        EN.expanding_robust_stats(
            _frame(spark, zs_rows),
            by="ent", ts="ts", value="value", id_col="id", min_history=2,
        )
        .orderBy("id")
        .toPandas()
    )
    rows = pd.DataFrame(zs_rows, columns=["id", "ent", "ts", "value"])
    rows = rows.sort_values(["ent", "ts", "id"]).reset_index(drop=True)
    for _, r in rows.iterrows():
        # history = prior rows in (ts, id) order within the entity
        ent = rows[rows.ent == r.ent].reset_index(drop=True)
        pos = ent.index[ent.id == r.id][0]
        past = ent.value.iloc[:pos].to_numpy()
        got = out[out.id == r.id].iloc[0]
        assert got.rb_n_prev == len(past)
        if len(past) >= 2:
            q1, med, q3 = np.quantile(past, [0.25, 0.5, 0.75])
            assert np.isclose(got.rb_median_prev, med)
            assert np.isclose(got.rb_iqr_prev, q3 - q1)
            expect = int(r.value < q1 - 1.5 * (q3 - q1) or r.value > q3 + 1.5 * (q3 - q1))
            assert got.rb_is_outlier == expect
        else:
            assert pd.isna(got.rb_median_prev)
            assert pd.isna(got.rb_is_outlier)


def test_decayed_features_replay(spark):
    """Spark output == independent pandas replay of the definition:
    w = 2^-(bk_i - bk_j) for strictly-earlier events within the horizon,
    same-bucket history at weight 1, null ts -> null features."""
    bucket = 10.0
    rows = [
        (0, "a", _ts(0), 10.0),
        (1, "a", _ts(1), 2.0),      # same bucket as id 0
        (2, "a", _ts(1), 4.0),      # same-ts peer of id 1: excluded from it
        (3, "a", _ts(15), 8.0),     # one bucket later
        (4, "a", _ts(25), 1.0),     # two buckets later
        (5, "a", _ts(500), 1.0),    # 50 buckets later: beyond horizon 20
        (6, "b", _ts(5), 3.0),
        (7, "b", None, 7.0),        # null ts: null features, no history
    ]
    out = (
        EN.decayed_features(
            _frame(spark, rows), by="ent", ts="ts", value="value",
            bucket_seconds=bucket,
        )
        .orderBy("id")
        .toPandas()
    )
    pdf = pd.DataFrame(rows, columns=["id", "ent", "ts", "value"])
    pdf["e"] = pdf["ts"].map(lambda t: None if pd.isna(t) else (t - T0).total_seconds())
    for _, r in pdf.iterrows():
        got = out[out.id == r.id].iloc[0]
        if pd.isna(r.e):
            assert pd.isna(got.decay_sum) and pd.isna(got.decay_cnt)
            continue
        bki = int(np.floor(r.e / bucket))
        s = c = 0.0
        for _, j in pdf.iterrows():
            if pd.isna(j.e) or j.ent != r.ent or not (j.e < r.e):
                continue
            age = bki - int(np.floor(j.e / bucket))
            if age >= EN.DECAY_HORIZON:
                continue
            w = 0.5**age
            s += j.value * w
            c += w
        assert got.decay_sum == pytest.approx(s, abs=1e-12), r.id
        assert got.decay_cnt == pytest.approx(c, abs=1e-12), r.id
    # spot-check the exact horizon/weight ladder: id 4 sees bucket-0 rows
    # (ids 0,1,2) at 2^-2 and id 3 at 2^-1
    got4 = out[out.id == 4].iloc[0]
    assert got4.decay_sum == (10.0 + 2.0 + 4.0) * 0.25 + 8.0 * 0.5
    assert got4.decay_cnt == 3 * 0.25 + 0.5
    # id 5 is 50/49 buckets past everything: horizon zeroes all history
    got5 = out[out.id == 5].iloc[0]
    assert got5.decay_sum == 0.0 and got5.decay_cnt == 0.0


def test_decayed_features_no_future_leakage(spark):
    """Perturbing any value at ts >= t leaves features of rows at t
    unchanged (the leakage contract shared by all encoders)."""
    bucket = 10.0
    rows = [
        (0, "a", _ts(0), 10.0),
        (1, "a", _ts(12), 2.0),
        (2, "a", _ts(12), 4.0),
        (3, "a", _ts(25), 8.0),
    ]
    base = (
        EN.decayed_features(
            _frame(spark, rows), by="ent", ts="ts", value="value",
            bucket_seconds=bucket,
        )
        .orderBy("id")
        .toPandas()
    )
    # perturb id 2 (same-ts peer of 1) and id 3 (future of both)
    rows2 = [rows[0], rows[1], (2, "a", _ts(12), 400.0), (3, "a", _ts(25), 800.0)]
    pert = (
        EN.decayed_features(
            _frame(spark, rows2), by="ent", ts="ts", value="value",
            bucket_seconds=bucket,
        )
        .orderBy("id")
        .toPandas()
    )
    for i in (0, 1):
        assert base.loc[i, "decay_sum"] == pert.loc[i, "decay_sum"]
        assert base.loc[i, "decay_cnt"] == pert.loc[i, "decay_cnt"]


def test_frequency_encode_replay(spark):
    """Strictly-earlier same-key counts; same-ts peers excluded."""
    rows = [
        (0, "a", _ts(0), 1.0),
        (1, "a", _ts(10), 1.0),
        (2, "a", _ts(10), 1.0),   # same-ts peer of id 1
        (3, "a", _ts(20), 1.0),
        (4, "b", _ts(0), 1.0),
    ]
    out = (
        EN.frequency_encode(_frame(spark, rows), by="ent", ts="ts")
        .orderBy("id")
        .toPandas()
        .set_index("id")
    )
    assert list(out["fe_n_prev"]) == [0, 1, 1, 3, 0]


def test_decayed_features_null_entity_and_value_exact(spark):
    """Null entity keys form their own history group (window PARTITION BY
    and the null-safe join agree); null values count for nothing; and the
    replay comparison is BIT-EXACT — the dyadic-weight order-independence
    claim, asserted with ==, not allclose."""
    bucket = 10.0
    rows = [
        (0, None, _ts(0), 10.0),
        (1, None, _ts(15), 2.0),    # sees id 0 at weight 0.5
        (2, None, _ts(25), 4.0),    # sees id 0 at 0.25, id 1 at 0.5
        (3, "a", _ts(0), None),     # null value: counts nothing
        (4, "a", _ts(15), 6.0),     # history = only the null-value row
    ]
    out = (
        EN.decayed_features(
            _frame(spark, rows), by="ent", ts="ts", value="value",
            bucket_seconds=bucket,
        )
        .orderBy("id")
        .toPandas()
        .set_index("id")
    )
    assert out.loc[0, "decay_sum"] == 0.0 and out.loc[0, "decay_cnt"] == 0.0
    assert out.loc[1, "decay_sum"] == 10.0 * 0.5
    assert out.loc[1, "decay_cnt"] == 0.5
    assert out.loc[2, "decay_sum"] == 10.0 * 0.25 + 2.0 * 0.5
    assert out.loc[2, "decay_cnt"] == 0.25 + 0.5
    # null value contributes neither sum nor count
    assert out.loc[4, "decay_sum"] == 0.0 and out.loc[4, "decay_cnt"] == 0.0


# -- winsorize ---------------------------------------------------------------


def test_winsorize_hand_values(spark):
    from image_feature_extraction_spark.operators import encode as EN

    rows = [(i, "g", float(v)) for i, v in enumerate([0, 10, 20, 30, 100])]
    df = spark.createDataFrame(rows, "event_id long, g string, value double")
    out = (
        EN.winsorize(df, by="g", value="value", p_lo=0.25, p_hi=0.75)
        .toPandas()
        .set_index("event_id")
        .sort_index()
    )
    # quantile_cont at p*(n-1): q25 over [0,10,20,30,100] -> index 1 -> 10;
    # q75 -> index 3 -> 30
    assert (out["wz_lo"] == 10.0).all() and (out["wz_hi"] == 30.0).all()
    assert out["wz_value"].tolist() == [10.0, 10.0, 20.0, 30.0, 30.0]
    assert out["wz_clipped"].tolist() == [True, False, False, False, True]


def test_winsorize_null_value_passes_through(spark):
    from image_feature_extraction_spark.operators import encode as EN

    rows = [(0, "g", 1.0), (1, "g", 2.0), (2, "g", 3.0), (3, "g", None)]
    df = spark.createDataFrame(rows, "event_id long, g string, value double")
    out = (
        EN.winsorize(df, by="g", value="value", p_lo=0.25, p_hi=0.75)
        .toPandas()
        .set_index("event_id")
        .sort_index()
    )
    # NULL must NOT be clamped to the bounds (LEAST/GREATEST skip nulls)
    import pandas as pd

    assert pd.isna(out.loc[3, "wz_value"]) and pd.isna(out.loc[3, "wz_clipped"])
    # quantiles computed over non-null values only
    assert out.loc[0, "wz_lo"] == 1.5 and out.loc[0, "wz_hi"] == 2.5


# -- NULL-timestamp leakage rule (ADVICE round 3) ----------------------------


def _null_ts_rows():
    # id 2 has an unknown event time and a huge value: if it leaked into
    # anyone's "strictly prior" history the means/counts would move.
    return [
        (0, "a", _ts(0), 10.0),
        (1, "a", _ts(10), 20.0),
        (2, "a", None, 1e6),
        (3, "a", _ts(20), 30.0),
    ]


def test_expanding_zscore_null_ts_contributes_nothing(spark):
    rows = _null_ts_rows()
    out = (
        EN.expanding_zscore(_frame(spark, rows), by="ent", ts="ts", value="value")
        .orderBy("id")
        .toPandas()
        .set_index("id")
    )
    clean = (
        EN.expanding_zscore(
            _frame(spark, [r for r in rows if r[2] is not None]),
            by="ent", ts="ts", value="value",
        )
        .orderBy("id")
        .toPandas()
        .set_index("id")
    )
    cols = ["z_n_prev", "z_mean_prev", "z_var_prev", "z_score"]
    # real rows: identical to a run without the null-ts row
    pd.testing.assert_frame_equal(
        out.loc[[0, 1, 3], cols], clean[cols], check_dtype=False
    )
    # the null-ts row itself: all features NULL
    assert out.loc[2, cols].isna().all()


def test_frequency_encode_null_ts_contributes_nothing(spark):
    rows = _null_ts_rows()
    out = (
        EN.frequency_encode(_frame(spark, rows), by="ent", ts="ts")
        .orderBy("id")
        .toPandas()
        .set_index("id")
    )
    assert list(out.loc[[0, 1, 3], "fe_n_prev"]) == [0, 1, 2]
    assert pd.isna(out.loc[2, "fe_n_prev"])


def test_target_encode_null_ts_and_null_category(spark):
    rows = [
        (0, "x", _ts(0), 10.0),
        (1, "x", _ts(3700), 30.0),   # bucket 1: sees id 0
        (2, "x", None, 1e6),         # unknown time: no contribution, NULL features
        (3, "x", _ts(7300), 50.0),   # bucket 2: sees ids 0,1 — NOT id 2
        (4, None, _ts(0), 8.0),      # NULL category is its own category
        (5, None, _ts(3700), 12.0),  # sees id 4
    ]
    out = (
        EN.target_encode(
            _frame(spark, rows), by="ent", ts="ts", label="value",
            time_bucket=3600.0,
        )
        .orderBy("id")
        .toPandas()
        .set_index("id")
    )
    m, prior = EN.TE_SMOOTHING_M, EN.TE_PRIOR
    assert out.loc[1, "te_n_prev"] == 1 and out.loc[1, "te_mean_prev"] == 10.0
    # id 3's history is ids 0+1 only — the null-ts 1e6 never leaked in
    assert out.loc[3, "te_n_prev"] == 2 and out.loc[3, "te_mean_prev"] == 20.0
    assert np.isclose(out.loc[3, "te_enc"], (40.0 + m * prior) / (2 + m))
    # null-ts row: NULL features (bucket never matches)
    assert out.loc[2, ["te_n_prev", "te_mean_prev", "te_enc"]].isna().all()
    # null category forms its own history group via the null-safe join
    assert out.loc[5, "te_n_prev"] == 1 and out.loc[5, "te_mean_prev"] == 8.0


# -- bucketed_robust_stats (scale-safe sibling of expanding_robust_stats) ----


def test_bucketed_robust_stats_replay(spark):
    """Quantiles frozen at bucket granularity: every row in bucket B sees
    Q1/med/Q3 of all rows in buckets < B (never its own bucket); NULL-ts
    rows contribute nothing and get NULL features."""
    bucket = 100.0
    rows = [
        (0, "a", _ts(0), 10.0),     # bucket 0
        (1, "a", _ts(50), 20.0),    # bucket 0 (peer: same history as id 0)
        (2, "a", _ts(150), 30.0),   # bucket 1
        (3, "a", None, 1e6),        # null ts: invisible
        (4, "a", _ts(250), 40.0),   # bucket 2
        (5, "a", _ts(350), 500.0),  # bucket 3: history {10,20,30,40}
        (6, "a", _ts(360), 25.0),   # bucket 3 peer
    ]
    out = (
        EN.bucketed_robust_stats(
            _frame(spark, rows), by="ent", ts="ts", value="value",
            bucket_seconds=bucket, min_history=4,
        )
        .orderBy("id")
        .toPandas()
        .set_index("id")
    )
    # ids 0,1 share bucket 0: no history
    assert out.loc[0, "rb_n_prev"] == 0 and out.loc[1, "rb_n_prev"] == 0
    # id 2 sees bucket 0 only (2 rows) — below min_history -> NULL stats
    assert out.loc[2, "rb_n_prev"] == 2 and pd.isna(out.loc[2, "rb_median_prev"])
    # null-ts row: everything NULL
    assert out.loc[3, ["rb_bucket", "rb_n_prev", "rb_median_prev"]].isna().all()
    # ids 5,6: history {10,20,30,40} (the 1e6 never leaked in)
    hist = np.array([10.0, 20.0, 30.0, 40.0])
    q1, med, q3 = np.percentile(hist, [25, 50, 75])  # same p*(n-1) interpolation
    for rid, v, want_out in ((5, 500.0, True), (6, 25.0, False)):
        got = out.loc[rid]
        assert got.rb_n_prev == 4
        assert np.isclose(got.rb_median_prev, med)
        assert np.isclose(got.rb_iqr_prev, q3 - q1)
        lo, hi = q1 - 1.5 * (q3 - q1), q3 + 1.5 * (q3 - q1)
        assert bool(got.rb_is_outlier) == want_out == (v < lo or v > hi)


def test_bucketed_matches_perrow_on_singleton_buckets(spark, zs_rows):
    """With buckets fine enough that every timestamp is its own bucket
    and no duplicate timestamps, the bucketed and per-row variants agree."""
    rows = [r for r in zs_rows if r[1] == "a"]  # entity a: distinct ts
    per_row = (
        EN.expanding_robust_stats(
            _frame(spark, rows), by="ent", ts="ts", value="value",
            id_col="id", min_history=1,
        )
        .orderBy("id")
        .toPandas()
    )
    bucketed = (
        EN.bucketed_robust_stats(
            _frame(spark, rows), by="ent", ts="ts", value="value",
            bucket_seconds=1.0, min_history=1,
        )
        .orderBy("id")
        .toPandas()
    )
    cols = ["rb_n_prev", "rb_median_prev", "rb_iqr_prev", "rb_is_outlier"]
    pd.testing.assert_frame_equal(
        per_row[cols], bucketed[cols], check_dtype=False
    )


# -- randomized property fuzz (seeded) vs pure-pandas replay ------------------


def _random_events(seed, n=400):
    """Random event table exercising the hard shapes at once: duplicate
    timestamps, NULL timestamps, NULL values, NULL entities, negative
    times, singleton entities."""
    rng = np.random.default_rng(seed)
    ents = np.array(["a", "b", "c", "d", None, "singleton"], dtype=object)
    rows = []
    for i in range(n):
        ent = ents[rng.integers(0, 5)] if i != 0 else "singleton"
        # coarse grid -> plenty of exact duplicate timestamps
        t = None if rng.random() < 0.05 else _ts(int(rng.integers(-50, 300)) * 10)
        v = None if rng.random() < 0.07 else round(float(rng.normal(50, 20)), 2)
        rows.append((i, ent, t, v))
    return rows


@pytest.mark.parametrize("seed", [3, 77, 2024])
def test_expanding_zscore_fuzz_vs_replay(spark, seed):
    rows = _random_events(seed)
    out = (
        EN.expanding_zscore(_frame(spark, rows), by="ent", ts="ts", value="value")
        .orderBy("id")
        .toPandas()
        .set_index("id")
    )
    rdf = pd.DataFrame(rows, columns=["id", "ent", "ts", "value"])
    for _, r in rdf.iterrows():
        got = out.loc[r.id]
        if pd.isna(r.ts):
            assert got[["z_n_prev", "z_mean_prev", "z_var_prev", "z_score"]].isna().all()
            continue
        past = rdf[
            (rdf.ent.isna() if pd.isna(r.ent) else (rdf.ent == r.ent))
            & rdf.ts.notna() & (rdf.ts < r.ts) & rdf.value.notna()
        ].value.to_numpy(dtype=np.float64)
        assert got.z_n_prev == len(past)
        if len(past) >= 1:
            assert np.isclose(got.z_mean_prev, past.mean())
        else:
            assert pd.isna(got.z_mean_prev)
        if len(past) >= 2 and past.var() > 1e-12:
            assert np.isclose(got.z_var_prev, past.var())
            if not pd.isna(r.value):
                assert np.isclose(
                    got.z_score, (r.value - past.mean()) / np.sqrt(past.var())
                )


@pytest.mark.parametrize("seed", [3, 77, 2024])
def test_target_encode_fuzz_vs_replay(spark, seed):
    B = 300.0
    rows = _random_events(seed)
    out = (
        EN.target_encode(
            _frame(spark, rows), by="ent", ts="ts", label="value", time_bucket=B
        )
        .orderBy("id")
        .toPandas()
        .set_index("id")
    )
    m, prior = EN.TE_SMOOTHING_M, EN.TE_PRIOR
    rdf = pd.DataFrame(rows, columns=["id", "ent", "ts", "value"])
    epoch = (rdf.ts - pd.Timestamp("1970-01-01")).dt.total_seconds()
    rdf["bucket"] = np.floor(epoch / B)  # operator buckets ABSOLUTE epoch
    for _, r in rdf.iterrows():
        got = out.loc[r.id]
        if pd.isna(r.ts):
            assert got[["te_n_prev", "te_mean_prev", "te_enc"]].isna().all()
            continue
        past = rdf[
            (rdf.ent.isna() if pd.isna(r.ent) else (rdf.ent == r.ent))
            & rdf.bucket.notna() & (rdf.bucket < r.bucket) & rdf.value.notna()
        ].value.to_numpy(dtype=np.float64)
        assert got.te_n_prev == len(past)
        assert np.isclose(got.te_enc, (past.sum() + m * prior) / (len(past) + m))
        if len(past) >= 1:
            assert np.isclose(got.te_mean_prev, past.mean())
        else:
            assert pd.isna(got.te_mean_prev)


@pytest.mark.parametrize("seed", [3, 77, 2024])
def test_decayed_features_fuzz_vs_replay(spark, seed):
    B = 500.0
    rows = _random_events(seed, n=250)
    out = (
        EN.decayed_features(
            _frame(spark, rows), by="ent", ts="ts", value="value",
            bucket_seconds=B,
        )
        .orderBy("id")
        .toPandas()
        .set_index("id")
    )
    H = EN.DECAY_HORIZON
    rdf = pd.DataFrame(rows, columns=["id", "ent", "ts", "value"])
    epoch = (rdf.ts - pd.Timestamp("1970-01-01")).dt.total_seconds()
    rdf["bk"] = np.floor(epoch / B)  # operator buckets ABSOLUTE epoch
    for _, r in rdf.iterrows():
        got = out.loc[r.id]
        if pd.isna(r.ts):
            assert pd.isna(got.decay_sum) and pd.isna(got.decay_cnt)
            continue
        same = rdf[
            (rdf.ent.isna() if pd.isna(r.ent) else (rdf.ent == r.ent))
            & rdf.ts.notna() & (rdf.ts < r.ts) & rdf.value.notna()
        ]
        age = (r.bk - same.bk).to_numpy()
        w = np.where(age < H, 0.5 ** age, 0.0)
        cents = np.round(same.value.to_numpy(dtype=np.float64) * 100.0)
        # replay in dyadic space -> comparison can be exact
        assert got.decay_sum == float(np.sum(cents * w)) / 100.0
        assert got.decay_cnt == float(np.sum(w))


@pytest.mark.parametrize("seed", [3, 77])
def test_frequency_encode_fuzz_vs_replay(spark, seed):
    rows = _random_events(seed, n=300)
    out = (
        EN.frequency_encode(_frame(spark, rows), by="ent", ts="ts")
        .orderBy("id")
        .toPandas()
        .set_index("id")
    )
    rdf = pd.DataFrame(rows, columns=["id", "ent", "ts", "value"])
    for _, r in rdf.iterrows():
        got = out.loc[r.id, "fe_n_prev"]
        if pd.isna(r.ts):
            assert pd.isna(got)
            continue
        past = rdf[
            (rdf.ent.isna() if pd.isna(r.ent) else (rdf.ent == r.ent))
            & rdf.ts.notna() & (rdf.ts < r.ts)
        ]
        assert got == len(past)


def test_expanding_robust_stats_null_ts_contributes_nothing(spark):
    rows = _null_ts_rows() + [(4, "a", _ts(30), 40.0), (5, "a", _ts(40), 35.0)]
    out = (
        EN.expanding_robust_stats(
            _frame(spark, rows), by="ent", ts="ts", value="value",
            id_col="id", min_history=2,
        )
        .orderBy("id")
        .toPandas()
        .set_index("id")
    )
    clean = (
        EN.expanding_robust_stats(
            _frame(spark, [r for r in rows if r[2] is not None]),
            by="ent", ts="ts", value="value", id_col="id", min_history=2,
        )
        .orderBy("id")
        .toPandas()
        .set_index("id")
    )
    cols = ["rb_n_prev", "rb_median_prev", "rb_iqr_prev", "rb_is_outlier"]
    pd.testing.assert_frame_equal(
        out.loc[[0, 1, 3, 4, 5], cols], clean[cols], check_dtype=False
    )
    assert out.loc[2, cols].isna().all()


def test_winsorize_global_matches_grouped(spark):
    """winsorize_global (distributed rank selection, zero single-task
    buffer) == winsorize with one group, bit for bit."""
    rng = np.random.default_rng(11)
    pdf = pd.DataFrame(
        {
            "event_id": np.arange(3000),
            "g": ["all"] * 3000,
            "value": np.round(rng.normal(100, 30, 3000), 2),
        }
    )
    pdf.loc[5, "value"] = None
    df = spark.createDataFrame(pdf).repartition(16)
    a = (
        EN.winsorize(df, by="g", value="value")
        .select("event_id", "wz_value", "wz_clipped")
        .toPandas().sort_values("event_id").reset_index(drop=True)
    )
    b = (
        EN.winsorize_global(df, value="value")
        .select("event_id", "wz_value", "wz_clipped")
        .toPandas().sort_values("event_id").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(a, b)  # exact


def _plan_of(out):
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        out.explain("formatted")
    return buf.getvalue()


def test_encoders_single_window_plan(spark, zs_rows):
    """Plan regression: every windowed encoder must carry exactly ONE
    Window operator and ONE exchange — chained withColumn interleaves
    Projects that defeat CollapseWindow, silently multiplying the
    per-partition buffer passes (observed: 4 Window nodes before the
    single-projection rewrite). This is the shape SCALE.md's cost
    arguments depend on."""
    import re

    df = _frame(spark, zs_rows)
    outs = {
        "zscore": EN.expanding_zscore(df, by="ent", ts="ts", value="value"),
        "robust_perrow": EN.expanding_robust_stats(
            df, by="ent", ts="ts", value="value", id_col="id"
        ),
        "robust_bucketed": EN.bucketed_robust_stats(
            df, by="ent", ts="ts", value="value", bucket_seconds=10.0
        ),
        "frequency": EN.frequency_encode(df, by="ent", ts="ts"),
    }
    for name, out in outs.items():
        plan = _plan_of(out)
        n_win = len(re.findall(r"\(\d+\) Window\b", plan))
        n_ex = len(re.findall(r"\(\d+\) Exchange\b", plan))
        assert n_win == 1, f"{name}: {n_win} Window operators (want 1)"
        assert n_ex == 1, f"{name}: {n_ex} Exchanges (want 1)"


@pytest.mark.parametrize("seed", [3, 2024])
def test_bucketed_robust_stats_fuzz_vs_replay(spark, seed):
    """Random tables (NULL ts/values/entities, duplicate ts) vs a pure
    numpy replay of the bucket-frozen definition: quantiles of all
    non-null values in strictly-earlier buckets."""
    B = 300.0
    rows = _random_events(seed, n=300)
    out = (
        EN.bucketed_robust_stats(
            _frame(spark, rows), by="ent", ts="ts", value="value",
            bucket_seconds=B, min_history=3,
        )
        .orderBy("id")
        .toPandas()
        .set_index("id")
    )
    rdf = pd.DataFrame(rows, columns=["id", "ent", "ts", "value"])
    epoch = (rdf.ts - pd.Timestamp("1970-01-01")).dt.total_seconds()
    rdf["bk"] = np.floor(epoch / B)
    for _, r in rdf.iterrows():
        got = out.loc[r.id]
        if pd.isna(r.ts):
            assert got[["rb_bucket", "rb_n_prev", "rb_median_prev",
                        "rb_iqr_prev", "rb_is_outlier"]].isna().all()
            continue
        past = rdf[
            (rdf.ent.isna() if pd.isna(r.ent) else (rdf.ent == r.ent))
            & rdf.bk.notna() & (rdf.bk < r.bk) & rdf.value.notna()
        ].value.to_numpy(dtype=np.float64)
        assert got.rb_n_prev == len(past)
        if len(past) >= 3:
            q1, med, q3 = np.quantile(past, [0.25, 0.5, 0.75])
            assert np.isclose(got.rb_median_prev, med)
            assert np.isclose(got.rb_iqr_prev, q3 - q1)
            if not pd.isna(r.value):
                lo, hi = q1 - 1.5 * (q3 - q1), q3 + 1.5 * (q3 - q1)
                assert bool(got.rb_is_outlier) == (r.value < lo or r.value > hi)
        else:
            assert pd.isna(got.rb_median_prev)


def test_expanding_robust_stats_history_cap_enforced(spark):
    """The per-row expanding-percentile cost boundary is self-enforcing:
    an entity whose prior history exceeds max_history_rows raises at
    execution with a pointer to bucketed_robust_stats; the default cap
    (50k) is transparent for compliant data and the single-Window plan
    is unchanged (VERDICT r4 Wrong #1)."""
    import datetime as dt

    rows = [
        (i, 1, dt.datetime(2024, 1, 1) + dt.timedelta(hours=i), float(i % 7))
        for i in range(20)
    ]
    df = spark.createDataFrame(
        rows, "id long, ent long, ts timestamp, value double"
    )
    kw = dict(by="ent", ts="ts", value="value", id_col="id")

    # default cap transparent: identical to the unguarded result
    a = (
        EN.expanding_robust_stats(df, **kw)
        .orderBy("id").toPandas()
    )
    b = (
        EN.expanding_robust_stats(df, **kw, max_history_rows=None)
        .orderBy("id").toPandas()
    )
    pd.testing.assert_frame_equal(a, b)

    # plan unchanged: still exactly one Window operator
    plan = (
        EN.expanding_robust_stats(df, **kw)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Window") == 1

    # past the cap: raises with the pointer to the scale-safe sibling
    with pytest.raises(Exception, match="bucketed_robust_stats"):
        EN.expanding_robust_stats(df, **kw, max_history_rows=5).collect()

    # the guard counts FRAME ROWS, not non-NULL values: an entity whose
    # values are mostly NULL still fills (and re-sorts) the percentile
    # buffer, so it must not evade the cap (review finding, round 5)
    rows_nullheavy = [
        (i, 1, dt.datetime(2024, 1, 1) + dt.timedelta(hours=i),
         float(i) if i < 3 else None)
        for i in range(20)
    ]
    df_nh = spark.createDataFrame(
        rows_nullheavy, "id long, ent long, ts timestamp, value double"
    )
    with pytest.raises(Exception, match="bucketed_robust_stats"):
        EN.expanding_robust_stats(df_nh, **kw, max_history_rows=5).collect()
    # and stays transparent for compliant NULL-heavy data
    a = EN.expanding_robust_stats(df_nh, **kw).orderBy("id").toPandas()
    b = (
        EN.expanding_robust_stats(df_nh, **kw, max_history_rows=None)
        .orderBy("id").toPandas()
    )
    pd.testing.assert_frame_equal(a, b)


def test_expanding_robust_stats_history_cap_in_executed_plan(spark):
    """The history-cap guard survives optimization: its raise is in the
    executed plan with a cap set, and absent without one. An optimizer
    change that folded the guard away would pass the raise test only on
    inputs it happened to evaluate."""
    import datetime as dt

    df = spark.createDataFrame(
        [(i, 1, dt.datetime(2024, 1, 1) + dt.timedelta(hours=i), float(i)) for i in range(8)],
        "id long, ent long, ts timestamp, value double",
    )
    kw = dict(by="ent", ts="ts", value="value", id_col="id")

    def plan(cap):
        out = EN.expanding_robust_stats(df, **kw, max_history_rows=cap)
        return out._jdf.queryExecution().executedPlan().toString().lower()

    guarded = plan(5)
    assert "assert_true" in guarded or "raise_error" in guarded
    unguarded = plan(None)
    assert "assert_true" not in unguarded and "raise_error" not in unguarded
