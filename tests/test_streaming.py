"""Structured Streaming: batch/stream parity for windowed counts and
session windows; state persistence across micro-batches for the custom
stateful operator."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from image_feature_extraction_spark.streaming import streams as ST

EVENTS_SCHEMA = (
    "event_id bigint, user_id string, event_type string, value double, "
    "ts timestamp_ntz"
)


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    """Static events split into 3 files so maxFilesPerTrigger can force
    multiple micro-batches."""
    d = str(tmp_path_factory.mktemp("events_stream"))
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    ev.repartition(3).write.mode("overwrite").parquet(d)
    # drop _SUCCESS to keep the file source clean
    for f in os.listdir(d):
        if not f.endswith(".parquet"):
            os.remove(os.path.join(d, f))
    return d


def _schema_of(spark, events_dir):
    return spark.read.parquet(events_dir).schema


def test_windowed_counts_parity(spark, events_dir):
    batch = spark.read.parquet(events_dir)
    sdf = ST.stream_events(spark, events_dir, _schema_of(spark, events_dir))
    ST.run_to_memory(ST.windowed_counts(sdf), "wc_stream", "complete")
    got = (
        spark.table("wc_stream")
        .toPandas()
        .sort_values(["win_start", "event_type"])
        .reset_index(drop=True)
    )
    want = (
        ST.windowed_counts(batch.withColumn("ts", F.col("ts")))
        if False
        else batch.groupBy(
            F.window(F.col("ts"), "10 minutes").alias("win"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("decimal(38,2)").alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
        .toPandas()
        .sort_values(["win_start", "event_type"])
        .reset_index(drop=True)
    )
    assert got["n_events"].sum() == batch.count()
    assert len(got) == len(want)
    assert (got["n_events"].to_numpy() == want["n_events"].to_numpy()).all()
    assert [str(x) for x in got["sum_value"]] == [str(x) for x in want["sum_value"]]


def test_session_window_parity_with_batch_sessionize(spark, events_dir):
    from image_feature_extraction_spark.operators.windows import session_stats

    batch = spark.read.parquet(events_dir)
    sdf = ST.stream_events(spark, events_dir, _schema_of(spark, events_dir))
    ST.run_to_memory(
        ST.session_aggregate(sdf, gap="30 minutes"), "sess_stream", "complete"
    )
    got = spark.table("sess_stream").toPandas()
    want = session_stats(batch, by="user_id", ts="ts", gap=1800.0).toPandas()
    # same number of sessions per user, same total events
    g = got.groupby("user_id")["n_events"].agg(["count", "sum"]).sort_index()
    w = want.groupby("user_id")["n_events"].agg(["count", "sum"]).sort_index()
    assert (g == w).all().all()


def test_running_stats_state_across_batches(spark, events_dir):
    sdf = ST.stream_events(
        spark, events_dir, _schema_of(spark, events_dir), max_files_per_trigger=1
    )
    out = ST.running_user_stats(sdf)
    q = (
        out.writeStream.format("memory")
        .queryName("run_stream")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("run_stream").toPandas()
    batch = spark.read.parquet(events_dir).toPandas()
    # multiple micro-batches ran (some user appears in >1 batch)
    assert got.groupby("user_id").size().max() > 1
    # final totals match the batch ground truth
    final = got.sort_values("total_rows").groupby("user_id").tail(1).set_index("user_id")
    want = batch.groupby("user_id").agg(n=("event_id", "size"), s=("value", "sum"))
    for uid, row in want.iterrows():
        assert final.loc[uid, "total_rows"] == row["n"]
        assert abs(final.loc[uid, "total_value"] - row["s"]) < 1e-6
    # per-user batch_rows sum == total rows (no loss across batches)
    assert (
        got.groupby("user_id")["batch_rows"].sum().sort_index()
        == want["n"].sort_index()
    ).all()


def test_streaming_pointintime_enrichment(spark, events_dir):
    """Leakage-free point-in-time enrichment ON A STREAM: the broadcast
    as-of join is a stateless narrow map, so it composes with readStream
    unchanged; availableNow output must equal the batch join."""
    from pyspark.sql import functions as F

    from image_feature_extraction_spark.operators.asof import asof_join_broadcast

    batch = spark.read.parquet(events_dir)
    purchases = (
        batch.where(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("purchase_value"))
    )
    # one file per trigger -> 3 micro-batches: the daily-increment shape
    # (SCALE.md), where each increment joins against the same stats table;
    # parity must hold ACROSS micro-batch boundaries, not just availableNow
    # in one gulp
    sdf = ST.stream_events(
        spark, events_dir, batch.schema, max_files_per_trigger=1
    )
    clicks_stream = sdf.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", F.col("value").alias("click_value")
    )
    enriched = asof_join_broadcast(
        clicks_stream, purchases, on="ts", by="user_id", include_right_on=True
    )
    q = (
        enriched.writeStream.format("memory")
        .queryName("pit_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = (
        spark.table("pit_stream")
        .toPandas()
        .sort_values("event_id")
        .reset_index(drop=True)
    )
    clicks_batch = batch.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", F.col("value").alias("click_value")
    )
    want = (
        asof_join_broadcast(
            clicks_batch, purchases, on="ts", by="user_id", include_right_on=True
        )
        .toPandas()
        .sort_values("event_id")
        .reset_index(drop=True)
    )
    import pandas as pd

    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    m = got.dropna(subset=["ts_right"])
    assert (m["ts_right"] <= m["ts"]).all()  # zero leakage on the stream


def test_streaming_dedup_exact_parity(spark, tmp_path):
    """Streaming exact dedup keeps one row per content hash and agrees
    with the batch dedup family's survivor count."""
    import pandas as pd

    docs = pd.DataFrame(
        {
            "doc_id": [f"d{i}" for i in range(12)],
            "text": [f"content {i % 5}" for i in range(12)],  # 5 distinct
        }
    )
    d = str(tmp_path / "docs")
    spark.createDataFrame(docs).repartition(3).write.parquet(d)
    batch = spark.read.parquet(d)
    sdf = ST.stream_events(spark, d, batch.schema)
    ST.run_to_memory(ST.dedup_exact(sdf), "dedup_stream", "append")
    got = spark.table("dedup_stream").toPandas()
    assert len(got) == 5
    assert sorted(got["text"].unique()) == sorted(docs["text"].unique())
    # batch agreement on the survivor count
    from pyspark.sql import functions as F

    n_batch = batch.select(F.md5("text")).distinct().count()
    assert n_batch == len(got)


def test_streaming_chunk_text_parity(spark, tmp_path):
    """chunk_text is a stateless narrow projection, so it composes with
    readStream unchanged; availableNow output must equal the batch run."""
    import pandas as pd

    from image_feature_extraction_spark.operators.sequences import chunk_text

    docs = pd.DataFrame(
        {
            "doc_id": range(9),
            "text": [" ".join(f"w{i}_{j}" for j in range(5 + 7 * (i % 3))) for i in range(9)],
        }
    )
    d = str(tmp_path / "docs")
    spark.createDataFrame(docs).repartition(3).write.parquet(d)
    batch = spark.read.parquet(d)
    sdf = ST.stream_events(spark, d, batch.schema, max_files_per_trigger=1)
    ST.run_to_memory(
        chunk_text(sdf, chunk_words=4, stride_words=3).drop("text"),
        "chunk_stream",
        "append",
    )
    got = (
        spark.table("chunk_stream")
        .toPandas()
        .sort_values(["doc_id", "chunk_idx"])
        .reset_index(drop=True)
    )
    want = (
        chunk_text(batch, chunk_words=4, stride_words=3)
        .drop("text")
        .toPandas()
        .sort_values(["doc_id", "chunk_idx"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_streaming_decontaminate_parity(spark, tmp_path):
    """Decontamination at ingest: static eval gram set (precomputed via
    eval_gram_set) stream-static-joined against incoming docs; the
    per-doc overlap aggregation runs in complete mode and must equal the
    batch decontaminate() output row-for-row."""
    import pandas as pd

    from image_feature_extraction_spark.operators import curation as C
    from pyspark.sql import functions as F

    base = "alpha beta gamma delta epsilon zeta"
    rows = []
    for i in range(1, 25):
        if i % 2 == 0:
            rows.append((i, base + f" tail words {i}"))          # shares 5-grams
        else:
            # every word unique to doc i: no 5-gram shared with ANY doc
            rows.append((i, " ".join(f"u{i}w{j}" for j in range(8))))
    docs = pd.DataFrame(rows, columns=["doc_id", "text"])
    d = str(tmp_path / "docs")
    spark.createDataFrame(docs).repartition(3).write.parquet(d)
    batch = spark.read.parquet(d)

    want = (
        C.decontaminate(batch, n=5, eval_mod=2)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )

    eval_grams = C.eval_gram_set(batch, n=5, eval_mod=2)
    sdf = ST.stream_events(spark, d, batch.schema, max_files_per_trigger=1)
    strain = sdf.filter(~C.eval_membership(F.col("doc_id"), 2))
    ST.run_to_memory(
        C.decontaminate(strain, n=5, eval_grams=eval_grams),
        "decontam_stream",
        "complete",
    )
    got = (
        spark.table("decontam_stream")
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert got.equals(want)
    # sanity: clean docs always occur (odd docs are globally unique);
    # contaminated ones occur iff some even doc landed in the eval subset
    import hashlib

    def is_eval(i):
        return int(hashlib.md5(f"{i}:eval".encode()).hexdigest()[:8], 16) % 2 == 0

    assert (~got["is_contaminated"]).any()
    if any(is_eval(i) for i in range(2, 25, 2)):
        assert got["is_contaminated"].any()


def test_streaming_zscore_parity_multibatch(spark, tmp_path):
    """streaming_zscore == batch expanding_zscore BIT-EXACTLY, across
    micro-batch boundaries, on time-ordered increments (the daily-
    increment shape): integer-cents state mirrors the batch DECIMAL sums
    and the float post-processing replays the same expression tree."""
    import time as _time

    import pandas as pd

    from image_feature_extraction_spark.operators.encode import expanding_zscore

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet").select(
        "event_id", "user_id", "ts", "value"
    )
    d = str(tmp_path / "ordered")
    # three contiguous time slices written in order (ascending mtime) so
    # per-entity arrival is time-ordered across micro-batches
    bounds = events.selectExpr(
        "percentile(cast(cast(ts as timestamp) as double), array(0.33, 0.66))"
    ).collect()[0][0]
    lo = events.where(F.col("ts").cast("timestamp").cast("double") <= bounds[0])
    mid = events.where(
        (F.col("ts").cast("timestamp").cast("double") > bounds[0])
        & (F.col("ts").cast("timestamp").cast("double") <= bounds[1])
    )
    hi = events.where(F.col("ts").cast("timestamp").cast("double") > bounds[1])
    for part in (lo, mid, hi):
        part.coalesce(1).write.mode("append").parquet(d)
        _time.sleep(1.1)  # distinct mtimes -> deterministic file order

    sdf = ST.stream_events(spark, d, events.schema, max_files_per_trigger=1)
    ST.run_to_memory(ST.streaming_zscore(sdf), "zscore_stream", "update")
    got = (
        spark.table("zscore_stream")
        .toPandas()
        .sort_values("event_id")
        .reset_index(drop=True)
    )
    assert got.event_id.nunique() == events.count()  # every event scored once
    want = (
        expanding_zscore(
            spark.read.parquet(d), by="user_id", ts="ts", value="value"
        )
        .select(
            "event_id", "user_id", "z_n_prev", "z_mean_prev", "z_var_prev",
            "z_score",
        )
        .toPandas()
        .sort_values("event_id")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want, check_dtype=False)  # exact


def test_streaming_asof_enrich_parity(spark, events_dir):
    """Stream-static as-of enrichment == the batch broadcast as-of join,
    row for row, across multiple micro-batches."""
    import pandas as pd

    from image_feature_extraction_spark.operators.asof import asof_join_broadcast

    batch = spark.read.parquet(events_dir)
    purchases = (
        batch.where(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("purchase_value"))
    )
    sdf = ST.stream_events(
        spark, events_dir, _schema_of(spark, events_dir), max_files_per_trigger=1
    ).select("event_id", "user_id", "ts", "value")
    ST.run_to_memory(
        ST.streaming_asof_enrich(sdf, purchases, on="ts", by="user_id"),
        "asof_stream",
        "append",
    )
    got = (
        spark.table("asof_stream")
        .toPandas()
        .sort_values("event_id")
        .reset_index(drop=True)
    )
    want = (
        asof_join_broadcast(
            batch.select("event_id", "user_id", "ts", "value"),
            purchases,
            on="ts",
            by="user_id",
        )
        .toPandas()
        .sort_values("event_id")
        .reset_index(drop=True)
    )
    assert len(got) == batch.count()
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    # streaming right side is rejected up front
    with pytest.raises(ValueError, match="static"):
        ST.streaming_asof_enrich(sdf, sdf, on="ts", by="user_id")


def test_streaming_decayed_parity_multibatch(spark, tmp_path):
    """streaming_decayed == batch decayed_features BIT-EXACTLY across
    micro-batch boundaries on time-ordered increments: the O(horizon)
    bucket ring replays the batch dyadic arithmetic, which is immune to
    accumulation order by construction."""
    import time as _time

    import pandas as pd

    from image_feature_extraction_spark.operators.encode import decayed_features

    BUCKET = 21600.0
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet").select(
        "event_id", "user_id", "ts", "value"
    )
    d = str(tmp_path / "ordered")
    bounds = events.selectExpr(
        "percentile(cast(cast(ts as timestamp) as double), array(0.33, 0.66))"
    ).collect()[0][0]
    e = F.col("ts").cast("timestamp").cast("double")
    lo = events.where(e <= bounds[0])
    mid = events.where((e > bounds[0]) & (e <= bounds[1]))
    hi = events.where(e > bounds[1])
    for part in (lo, mid, hi):
        part.coalesce(1).write.mode("append").parquet(d)
        _time.sleep(1.1)  # distinct mtimes -> deterministic file order
    sdf = ST.stream_events(spark, d, events.schema, max_files_per_trigger=1)
    ST.run_to_memory(
        ST.streaming_decayed(sdf, bucket_seconds=BUCKET), "decay_stream", "update"
    )
    got = (
        spark.table("decay_stream")
        .toPandas()
        .sort_values("event_id")
        .reset_index(drop=True)
    )
    assert got.event_id.nunique() == events.count()
    want = (
        decayed_features(
            spark.read.parquet(d), by="user_id", ts="ts", value="value",
            bucket_seconds=BUCKET,
        )
        .select("event_id", "user_id", "decay_sum", "decay_cnt")
        .toPandas()
        .sort_values("event_id")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)


def test_streaming_drift_parity(spark, events_dir):
    """Serving-time drift monitor: stream vs batch replay of the same
    files must produce identical per-(window, group) drift rows; the
    reference histogram comes from the same static files (self-drift,
    so TV is small but nonzero per window)."""
    from image_feature_extraction_spark.operators import monitor as MO

    batch = spark.read.parquet(events_dir).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    ref = MO.reference_histogram(
        batch, by="event_type", value_col="value", bin_width=10.0, n_bins=6
    )
    sdf = ST.stream_events(spark, events_dir, _schema_of(spark, events_dir))
    ST.run_to_memory(
        ST.streaming_drift(
            sdf, ref, bin_width=10.0, n_bins=6, window="1 day"
        ),
        "drift_stream",
        "complete",
    )
    got = (
        spark.table("drift_stream")
        .orderBy("win_start", "event_type")
        .toPandas()
    )
    want = (
        MO.drift_against_reference(
            batch, ref, by="event_type", ts="ts", value_col="value",
            bin_width=10.0, n_bins=6, window="1 day",
        )
        .orderBy("win_start", "event_type")
        .toPandas()
    )
    assert len(got) == len(want) > 0
    import pandas as pd

    pd.testing.assert_frame_equal(
        got.reset_index(drop=True), want.reset_index(drop=True)
    )
    # whole-input drift of the reference against itself is exactly zero
    whole = MO.drift_against_reference(
        batch, ref, by="event_type", ts="ts", value_col="value",
        bin_width=10.0, n_bins=6,
    ).toPandas()
    assert (whole["tv_distance"] == 0.0).all()
    assert (whole["n_cur"] == whole["n_ref"]).all()


def test_streaming_zscore_null_values_do_not_corrupt_state(spark, tmp_path):
    """A NULL value must count for nothing (batch COUNT(value)/DECIMAL
    sums skip NULLs) and must score NULL itself — np.round(NaN) garbage
    in the cents state would poison every later row of the entity."""
    import datetime as dt
    import time as _time

    import pandas as pd

    from image_feature_extraction_spark.operators.encode import expanding_zscore

    T0 = dt.datetime(2024, 1, 1)
    rows = [
        (0, "u", T0 + dt.timedelta(seconds=0), 10.0),
        (1, "u", T0 + dt.timedelta(seconds=10), 20.0),
        (2, "u", T0 + dt.timedelta(seconds=20), None),   # mid-stream NULL
        (3, "u", T0 + dt.timedelta(seconds=30), 40.0),
        (4, "u", T0 + dt.timedelta(seconds=40), 50.0),
    ]
    pdf = pd.DataFrame(rows, columns=["event_id", "user_id", "ts", "value"])
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    df = spark.createDataFrame(pdf).selectExpr(
        "event_id", "user_id", "cast(ts as timestamp_ntz) ts", "value"
    )
    d = str(tmp_path / "nulls")
    for i in range(0, 5, 2):  # 3 time-ordered slices -> 3 micro-batches
        df.where(F.col("event_id").isin(list(range(i, i + 2)))).coalesce(
            1
        ).write.mode("append").parquet(d)
        _time.sleep(1.1)
    sdf = ST.stream_events(spark, d, df.schema, max_files_per_trigger=1)
    ST.run_to_memory(ST.streaming_zscore(sdf), "zscore_null_stream", "update")
    got = (
        spark.table("zscore_null_stream")
        .toPandas()
        .sort_values("event_id")
        .reset_index(drop=True)
    )
    want = (
        expanding_zscore(spark.read.parquet(d), by="user_id", ts="ts", value="value")
        .select(
            "event_id", "user_id", "z_n_prev", "z_mean_prev", "z_var_prev",
            "z_score",
        )
        .toPandas()
        .sort_values("event_id")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    # NULL row scored NULL, and later rows ignored it: id 3's history is
    # {10, 20} (n=2), not 3 rows
    assert pd.isna(got.loc[2, "z_score"])
    assert got.loc[3, "z_n_prev"] == 2


def test_streaming_infinite_value_counts_as_null(spark, tmp_path):
    """A +inf value must leave the cents state exactly as a NULL would:
    floor(inf).astype(int64) is INT64_MIN, which would poison every later
    row of the entity. Runs the three cents-state twins on the same
    two-micro-batch stream with one value +inf and with it NULL."""
    import datetime as dt
    import time as _time

    import pandas as pd

    T0 = dt.datetime(2024, 1, 1)

    def run(bad, tag):
        rows = [
            (i, "u", "click", T0 + dt.timedelta(seconds=10 * i), v)
            for i, v in enumerate([10.0, 20.0, bad, 40.0, 50.0])
        ]
        pdf = pd.DataFrame(
            rows, columns=["event_id", "user_id", "event_type", "ts", "value"]
        )
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")
        df = spark.createDataFrame(pdf).selectExpr(
            "event_id", "user_id", "event_type",
            "cast(ts as timestamp_ntz) ts", "value",
        )
        d = str(tmp_path / tag)
        for lo, hi in ((0, 3), (3, 5)):  # the bad value is in batch 1
            df.where(F.col("event_id").isin(list(range(lo, hi)))).coalesce(
                1
            ).write.mode("append").parquet(d)
            _time.sleep(1.1)
        outs = {}
        for name, build in (
            ("zscore", ST.streaming_zscore),
            ("decayed", lambda e: ST.streaming_decayed(e, bucket_seconds=15.0)),
            ("te", lambda e: ST.streaming_target_encode(e, time_bucket=15.0)),
        ):
            sdf = ST.stream_events(spark, d, df.schema, max_files_per_trigger=1)
            ST.run_to_memory(build(sdf), f"inf_{name}_{tag}", "update")
            outs[name] = (
                spark.table(f"inf_{name}_{tag}").toPandas()
                .sort_values("event_id").reset_index(drop=True)
            )
        return outs

    got, want = run(float("inf"), "inf"), run(None, "null")
    # the +inf row's own z-score is its own arithmetic, (inf - mean) / sd;
    # everything that reads state must match the NULL run
    assert got["zscore"].loc[2, "z_score"] == float("inf")
    got["zscore"].loc[2, "z_score"] = None
    for name in want:
        pd.testing.assert_frame_equal(got[name], want[name], check_dtype=False)
    assert got["zscore"].loc[3, "z_n_prev"] == 2
    assert got["te"].loc[3, "te_n_prev"] == 2


@pytest.fixture(scope="module")
def ordered_slices_dir(spark, tmp_path_factory):
    """sf0.001 events written as 3 contiguous time slices with ascending
    mtimes — per-entity time-ordered arrival across micro-batches."""
    import time as _time

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    d = str(tmp_path_factory.mktemp("ordered_slices"))
    bounds = events.selectExpr(
        "percentile(cast(cast(ts as timestamp) as double), array(0.33, 0.66))"
    ).collect()[0][0]
    e = F.col("ts").cast("timestamp").cast("double")
    for part in (
        events.where(e <= bounds[0]),
        events.where((e > bounds[0]) & (e <= bounds[1])),
        events.where(e > bounds[1]),
    ):
        part.coalesce(1).write.mode("append").parquet(d)
        _time.sleep(1.1)
    return d


def test_streaming_frequency_encode_parity(spark, ordered_slices_dir):
    """streaming_frequency_encode == batch frequency_encode exactly
    (integer arithmetic), across micro-batch boundaries."""
    import pandas as pd

    from image_feature_extraction_spark.operators.encode import frequency_encode

    d = ordered_slices_dir
    schema = spark.read.parquet(d).schema
    sdf = ST.stream_events(spark, d, schema, max_files_per_trigger=1)
    ST.run_to_memory(
        ST.streaming_frequency_encode(sdf, by=("user_id", "event_type")),
        "freq_stream", "update",
    )
    got = (
        spark.table("freq_stream")
        .toPandas()
        .sort_values("event_id")
        .reset_index(drop=True)
    )
    want = (
        frequency_encode(
            spark.read.parquet(d), by=["user_id", "event_type"], ts="ts"
        )
        .select("event_id", "user_id", "event_type", "fe_n_prev")
        .toPandas()
        .sort_values("event_id")
        .reset_index(drop=True)
    )
    assert got.event_id.nunique() == len(want)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_streaming_target_encode_parity(spark, ordered_slices_dir):
    """streaming_target_encode == batch target_encode BIT-EXACTLY across
    micro-batches (integer-cents state mirrors the DECIMAL sums; float
    post-processing replays the batch expression tree)."""
    import pandas as pd

    from image_feature_extraction_spark.operators.encode import target_encode

    d = ordered_slices_dir
    schema = spark.read.parquet(d).schema
    sdf = ST.stream_events(spark, d, schema, max_files_per_trigger=1)
    ST.run_to_memory(
        ST.streaming_target_encode(
            sdf, by="event_type", ts="ts", label="value", time_bucket=3600.0
        ),
        "te_stream", "update",
    )
    got = (
        spark.table("te_stream")
        .toPandas()
        .sort_values("event_id")
        .reset_index(drop=True)
    )
    want = (
        target_encode(
            spark.read.parquet(d).select("event_id", "event_type", "ts", "value"),
            by="event_type", ts="ts", label="value", time_bucket=3600.0,
        )
        .select(
            "event_id", "event_type", "te_bucket", "te_n_prev", "te_mean_prev",
            "te_enc",
        )
        .toPandas()
        .sort_values("event_id")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want, check_dtype=False)  # exact


def test_streaming_twins_null_ts_parity(spark, tmp_path):
    """NULL-timestamp rows must flow through every streaming encoder twin
    with NULL features and zero state contribution — exactly the batch
    family rule. Covers zscore, frequency, and target encode with NaT
    rows present in BOTH micro-batches (the range-sliced fixtures can
    never exercise this: a NULL ts fails every range predicate)."""
    import datetime as dt
    import time as _time

    import pandas as pd

    from image_feature_extraction_spark.operators import encode as EN

    T0 = dt.datetime(2024, 1, 1)

    def t(s):
        return T0 + dt.timedelta(seconds=s)

    rows = [
        # slice 1
        (0, "u", "click", t(0), 10.0),
        (1, "u", "click", None, 1e6),     # NULL ts, poisoned value
        (2, "u", "click", t(3700), 30.0),
        # slice 2
        (3, "u", "click", t(7300), 50.0),
        (4, "u", "click", None, None),    # NULL ts AND NULL value
        (5, "u", "click", t(11000), 20.0),
    ]
    pdf = pd.DataFrame(
        rows, columns=["event_id", "user_id", "event_type", "ts", "value"]
    )
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    df = spark.createDataFrame(pdf).selectExpr(
        "event_id", "user_id", "event_type",
        "cast(ts as timestamp_ntz) ts", "value",
    )
    d = str(tmp_path / "null_ts_slices")
    for lo, hi in ((0, 3), (3, 6)):
        df.where(F.col("event_id").isin(list(range(lo, hi)))).coalesce(
            1
        ).write.mode("append").parquet(d)
        _time.sleep(1.1)
    schema = df.schema
    batch = spark.read.parquet(d)

    def drain(stream_df, name):
        ST.run_to_memory(stream_df, name, "update")
        return (
            spark.table(name).toPandas().sort_values("event_id")
            .reset_index(drop=True)
        )

    sdf = ST.stream_events(spark, d, schema, max_files_per_trigger=1)
    got = drain(ST.streaming_zscore(sdf), "nullts_zs")
    want = (
        EN.expanding_zscore(batch, by="user_id", ts="ts", value="value")
        .select("event_id", "user_id", "z_n_prev", "z_mean_prev",
                "z_var_prev", "z_score")
        .toPandas().sort_values("event_id").reset_index(drop=True)
    )
    assert len(got) == 6  # NULL-ts rows are present, not dropped
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    assert pd.isna(got.loc[1, "z_score"]) and pd.isna(got.loc[4, "z_n_prev"])
    # the 1e6 never reached state: id 3's history is {10, 30}
    assert got.loc[3, "z_n_prev"] == 2

    sdf = ST.stream_events(spark, d, schema, max_files_per_trigger=1)
    got = drain(
        ST.streaming_frequency_encode(sdf, by=("user_id", "event_type")),
        "nullts_fe",
    )
    want = (
        EN.frequency_encode(batch, by=["user_id", "event_type"], ts="ts")
        .select("event_id", "user_id", "event_type", "fe_n_prev")
        .toPandas().sort_values("event_id").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    assert pd.isna(got.loc[1, "fe_n_prev"])

    sdf = ST.stream_events(spark, d, schema, max_files_per_trigger=1)
    got = drain(
        ST.streaming_target_encode(
            sdf, by="event_type", ts="ts", label="value", time_bucket=3600.0
        ),
        "nullts_te",
    )
    want = (
        EN.target_encode(
            batch.select("event_id", "event_type", "ts", "value"),
            by="event_type", ts="ts", label="value", time_bucket=3600.0,
        )
        .select("event_id", "event_type", "te_bucket", "te_n_prev",
                "te_mean_prev", "te_enc")
        .toPandas().sort_values("event_id").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    assert pd.isna(got.loc[4, "te_enc"])


@pytest.mark.parametrize("seed", [13, 4242])
def test_streaming_twins_fuzz_vs_batch(spark, tmp_path, seed):
    """Randomized ordered-arrival fuzz: all four encoder twins == their
    batch operators on a random event table with NULL ts/values,
    duplicate timestamps, and multiple entities, split into 3
    time-ordered micro-batches (NULL-ts rows salted into every slice)."""
    import datetime as dt
    import time as _time

    import numpy as np
    import pandas as pd

    from image_feature_extraction_spark.operators import encode as EN

    rng = np.random.default_rng(seed)
    n = 400
    T0 = dt.datetime(2024, 1, 1)
    ents = rng.choice(["a", "b", "c", "d"], n)
    # coarse grid -> duplicate timestamps; 5% NULL ts; 7% NULL values
    secs = rng.integers(0, 30 * 86400, n) // 3600 * 3600
    tsn = rng.random(n) < 0.05
    pdf = pd.DataFrame(
        {
            "event_id": np.arange(n),
            "user_id": ents,
            "event_type": rng.choice(["click", "purchase"], n),
            "ts": [None if m else T0 + dt.timedelta(seconds=int(s))
                   for m, s in zip(tsn, secs)],
            "value": [None if rng.random() < 0.07
                      else round(float(rng.normal(50, 20)), 2)
                      for _ in range(n)],
        }
    )
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    df = spark.createDataFrame(pdf).selectExpr(
        "event_id", "user_id", "event_type",
        "cast(ts as timestamp_ntz) ts", "value",
    )
    # 3 contiguous time slices; NULL-ts rows spread by event_id mod 3 so
    # every micro-batch contains some
    e = F.col("ts").cast("timestamp").cast("double")
    b1, b2 = 10 * 86400, 20 * 86400
    slices = [
        (e <= b1) | (e.isNull() & (F.col("event_id") % 3 == 0)),
        ((e > b1) & (e <= b2)) | (e.isNull() & (F.col("event_id") % 3 == 1)),
        (e > b2) | (e.isNull() & (F.col("event_id") % 3 == 2)),
    ]
    d = str(tmp_path / f"fuzz{seed}")
    for cond in slices:
        df.where(cond).coalesce(1).write.mode("append").parquet(d)
        _time.sleep(1.1)
    schema = df.schema
    batch = spark.read.parquet(d)

    def drain(stream_df, name):
        ST.run_to_memory(stream_df, name, "update")
        return (
            spark.table(name).toPandas().sort_values("event_id")
            .reset_index(drop=True)
        )

    def batch_pdf(bdf, cols):
        return (
            bdf.select(*cols).toPandas().sort_values("event_id")
            .reset_index(drop=True)
        )

    sdf = ST.stream_events(spark, d, schema, max_files_per_trigger=1)
    got = drain(ST.streaming_zscore(sdf), f"fz_zs{seed}")
    want = batch_pdf(
        EN.expanding_zscore(batch, by="user_id", ts="ts", value="value"),
        ["event_id", "user_id", "z_n_prev", "z_mean_prev", "z_var_prev",
         "z_score"],
    )
    pd.testing.assert_frame_equal(got, want, check_dtype=False)

    sdf = ST.stream_events(spark, d, schema, max_files_per_trigger=1)
    got = drain(
        ST.streaming_frequency_encode(sdf, by=("user_id", "event_type")),
        f"fz_fe{seed}",
    )
    want = batch_pdf(
        EN.frequency_encode(batch, by=["user_id", "event_type"], ts="ts"),
        ["event_id", "user_id", "event_type", "fe_n_prev"],
    )
    pd.testing.assert_frame_equal(got, want, check_dtype=False)

    sdf = ST.stream_events(spark, d, schema, max_files_per_trigger=1)
    got = drain(
        ST.streaming_target_encode(
            sdf, by="event_type", ts="ts", label="value", time_bucket=21600.0
        ),
        f"fz_te{seed}",
    )
    want = batch_pdf(
        EN.target_encode(
            batch.select("event_id", "event_type", "ts", "value"),
            by="event_type", ts="ts", label="value", time_bucket=21600.0,
        ),
        ["event_id", "event_type", "te_bucket", "te_n_prev", "te_mean_prev",
         "te_enc"],
    )
    pd.testing.assert_frame_equal(got, want, check_dtype=False)

    sdf = ST.stream_events(spark, d, schema, max_files_per_trigger=1)
    got = drain(
        ST.streaming_decayed(
            sdf, key="user_id", bucket_seconds=21600.0
        ),
        f"fz_dc{seed}",
    )
    want = batch_pdf(
        EN.decayed_features(
            batch.select("event_id", "user_id", "ts", "value"),
            by="user_id", ts="ts", value="value", bucket_seconds=21600.0,
        ),
        ["event_id", "user_id", "decay_sum", "decay_cnt"],
    )
    pd.testing.assert_frame_equal(got, want, check_dtype=False)  # exact


def test_streaming_target_encode_late_bucket_observable(spark, tmp_path):
    """Arrival-contract ENFORCEMENT: an event whose bucket precedes the
    open bucket (late data across micro-batches) must get NULL features
    with its te_bucket kept — observable downstream — and contribute
    NOTHING to state, instead of being silently scored against future
    history and folded into the wrong bucket (ADVICE r4)."""
    import datetime as dt
    import time as _time

    import pandas as pd

    T0 = dt.datetime(2024, 1, 1)

    def t(s):
        return T0 + dt.timedelta(seconds=s)

    rows = [
        # slice 1: bucket 0 then bucket 1 (bucket 0 completes in-batch)
        (0, "u", "click", t(0), 10.0),
        (1, "u", "click", t(3700), 20.0),
        # slice 2: bucket-0 straggler (LATE: open bucket is 1) + bucket 2
        (2, "u", "click", t(100), 999.0),
        (3, "u", "click", t(7300), 30.0),
    ]
    pdf = pd.DataFrame(
        rows, columns=["event_id", "user_id", "event_type", "ts", "value"]
    )
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    df = spark.createDataFrame(pdf).selectExpr(
        "event_id", "user_id", "event_type",
        "cast(ts as timestamp_ntz) ts", "value",
    )
    d = str(tmp_path / "late_slices")
    for lo, hi in ((0, 2), (2, 4)):
        df.where(F.col("event_id").isin(list(range(lo, hi)))).coalesce(
            1
        ).write.mode("append").parquet(d)
        _time.sleep(1.1)
    sdf = ST.stream_events(spark, d, df.schema, max_files_per_trigger=1)
    ST.run_to_memory(
        ST.streaming_target_encode(
            sdf, by="event_type", ts="ts", label="value", time_bucket=3600.0
        ),
        "late_te", "update",
    )
    got = (
        spark.table("late_te").toPandas().sort_values("event_id")
        .reset_index(drop=True)
    )
    # the late row: bucket kept (observable), features NULL
    late = got.loc[2]
    assert late["te_bucket"] == 473352  # floor(epoch(2024-01-01T00:01:40)/3600)
    assert pd.isna(late["te_n_prev"]) and pd.isna(late["te_enc"])
    # state uncorrupted: event 3 sees exactly buckets 0+1 = {10, 20} —
    # the 999 neither joined the open bucket nor the completed totals
    assert got.loc[3, "te_n_prev"] == 2
    assert got.loc[3, "te_mean_prev"] == 15.0


def test_streaming_cents_half_up_ties_match_batch(spark, tmp_path):
    """Half-cent ties (exactly-representable doubles like 0.125) must
    round HALF_UP like the batch DECIMAL(18,2) cast — np.round's
    half-even would give 12 cents where batch has 13 (ADVICE r4). Runs
    the zscore and target-encode twins against their batch operators on
    a tie-heavy table split across two micro-batches."""
    import datetime as dt
    import time as _time

    import pandas as pd

    from image_feature_extraction_spark.operators import encode as EN

    T0 = dt.datetime(2024, 1, 1)
    vals = [0.125, -0.125, 0.625, 10.375, -3.875, 2.5]  # all exact .5-cent ties
    rows = [
        (i, "u", "click", T0 + dt.timedelta(seconds=3700 * i), v)
        for i, v in enumerate(vals)
    ]
    pdf = pd.DataFrame(
        rows, columns=["event_id", "user_id", "event_type", "ts", "value"]
    )
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    df = spark.createDataFrame(pdf).selectExpr(
        "event_id", "user_id", "event_type",
        "cast(ts as timestamp_ntz) ts", "value",
    )
    d = str(tmp_path / "tie_slices")
    for lo, hi in ((0, 3), (3, 6)):
        df.where(F.col("event_id").isin(list(range(lo, hi)))).coalesce(
            1
        ).write.mode("append").parquet(d)
        _time.sleep(1.1)
    batch = spark.read.parquet(d)

    def drain(stream_df, name):
        ST.run_to_memory(stream_df, name, "update")
        return (
            spark.table(name).toPandas().sort_values("event_id")
            .reset_index(drop=True)
        )

    sdf = ST.stream_events(spark, d, df.schema, max_files_per_trigger=1)
    got = drain(ST.streaming_zscore(sdf), "tie_zs")
    want = (
        EN.expanding_zscore(batch, by="user_id", ts="ts", value="value")
        .select("event_id", "user_id", "z_n_prev", "z_mean_prev",
                "z_var_prev", "z_score")
        .toPandas().sort_values("event_id").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want, check_dtype=False)  # exact
    # pin the divergent tie directly: history {0.125} -> batch DECIMAL
    # mean 0.13, not half-even's 0.12
    assert got.loc[1, "z_mean_prev"] == 0.13

    sdf = ST.stream_events(spark, d, df.schema, max_files_per_trigger=1)
    got = drain(
        ST.streaming_target_encode(
            sdf, by="event_type", ts="ts", label="value", time_bucket=3600.0
        ),
        "tie_te",
    )
    want = (
        EN.target_encode(
            batch.select("event_id", "event_type", "ts", "value"),
            by="event_type", ts="ts", label="value", time_bucket=3600.0,
        )
        .select("event_id", "event_type", "te_bucket", "te_n_prev",
                "te_mean_prev", "te_enc")
        .toPandas().sort_values("event_id").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want, check_dtype=False)  # exact


def test_streaming_decayed_late_bucket_observable(spark, tmp_path):
    """streaming_decayed shares target_encode's bucket-order contract and
    its enforcement: a bucket that already shifted out of the open
    position (late data across micro-batches) gets NULL features and
    contributes nothing to the ring — it would otherwise read FUTURE
    buckets and book its value under the NEWEST bucket, permanently
    diverging from the batch operator."""
    import datetime as dt
    import time as _time

    import pandas as pd

    T0 = dt.datetime(2024, 1, 1)
    B = 3600.0

    def t(s):
        return T0 + dt.timedelta(seconds=s)

    rows = [
        # slice 1: buckets 0 and 1
        (0, "u", "click", t(0), 16.0),
        (1, "u", "click", t(3700), 8.0),
        # slice 2: bucket-0 straggler (late) + bucket 2
        (2, "u", "click", t(200), 999.0),
        (3, "u", "click", t(7300), 4.0),
    ]
    pdf = pd.DataFrame(
        rows, columns=["event_id", "user_id", "event_type", "ts", "value"]
    )
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    df = spark.createDataFrame(pdf).selectExpr(
        "event_id", "user_id", "event_type",
        "cast(ts as timestamp_ntz) ts", "value",
    )
    d = str(tmp_path / "late_decay")
    for lo, hi in ((0, 2), (2, 4)):
        df.where(F.col("event_id").isin(list(range(lo, hi)))).coalesce(
            1
        ).write.mode("append").parquet(d)
        _time.sleep(1.1)
    sdf = ST.stream_events(spark, d, df.schema, max_files_per_trigger=1)
    ST.run_to_memory(
        ST.streaming_decayed(sdf, key="user_id", bucket_seconds=B),
        "late_decay", "update",
    )
    got = (
        spark.table("late_decay").toPandas().sort_values("event_id")
        .reset_index(drop=True)
    )
    # late row: NULL features, nothing folded
    assert pd.isna(got.loc[2, "decay_sum"]) and pd.isna(got.loc[2, "decay_cnt"])
    # event 3 (bucket 2) sees exactly {16 @ lag2, 8 @ lag1}: 16/4 + 8/2 = 8.0
    # — the 999 never entered the ring
    assert got.loc[3, "decay_sum"] == 8.0
    assert got.loc[3, "decay_cnt"] == 0.25 + 0.5


def test_cents_half_up_matches_spark_decimal_cast_property(spark):
    """_cents_half_up must mirror Spark's CAST(v AS DECIMAL(18,2))*100
    bit-for-bit — including the non-obvious repr-rounding semantics:
    Spark's Decimal(double) rounds the SHORTEST DECIMAL REPR (BigDecimal
    .valueOf), so 75.445 (stored 75.44499999...) casts to 7545 cents,
    where rounding the binary value gives 7544. This probe originally
    found 19/10009 such mismatches in the floor-formula implementation;
    the hybrid repr slow path fixed them (0 mismatches on 14k values)."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(123)
    vals = np.concatenate([
        np.round(rng.uniform(-1000, 1000, 1500), 2),
        np.round(rng.uniform(-100, 100, 1500), 3),   # repr-tie territory
        rng.uniform(-10, 10, 500),
        np.round(rng.uniform(-1e7, 1e7, 500), 3),
        np.array([0.125, -0.125, 0.625, 2.5, -3.875, 0.005, -0.005,
                  1.005, 2.675, 75.445, -75.445, 0.0, -0.0]),
    ])
    df = spark.createDataFrame(pd.DataFrame({"i": np.arange(len(vals)),
                                             "v": vals}))
    rows = df.selectExpr(
        "i", "CAST(CAST(v AS DECIMAL(18,2)) * 100 AS BIGINT) c"
    ).collect()
    want = np.array(
        [r["c"] for r in sorted(rows, key=lambda r: r["i"])], dtype=np.int64
    )
    got = ST._cents_half_up(vals)
    assert np.array_equal(got, want)


def test_cents_half_up_large_values_fast_and_exact(spark, monkeypatch):
    """Past |v| ~ 5e9 the uncapped near-boundary band reached 0.5 and sent
    every value down the per-element Decimal path. Capped at 0.499,
    2-decimal values keep the fast path there; values from 2**50 cents
    on always take the exact path. Both stay equal to Spark's cast up to
    the DECIMAL(18,2) bound."""
    import decimal

    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(77)
    two_dec = np.round(rng.uniform(5e9, 5e10, 2000), 2) * rng.choice([-1, 1], 2000)
    vals = np.concatenate([
        two_dec,
        np.round(rng.uniform(5e10, 1e13, 300), 2),
        np.round(rng.uniform(1e9, 1e13, 300), 3),
        np.round(rng.uniform(1e13, 9.9e15, 300), 2) * rng.choice([-1, 1], 300),
    ])
    df = spark.createDataFrame(pd.DataFrame({"i": np.arange(len(vals)),
                                             "v": vals}))
    rows = df.selectExpr(
        "i", "CAST(CAST(v AS DECIMAL(18,2)) * 100 AS BIGINT) c"
    ).collect()
    want = np.array(
        [r["c"] for r in sorted(rows, key=lambda r: r["i"])], dtype=np.int64
    )
    assert np.array_equal(ST._cents_half_up(vals), want)

    slow = []
    real = decimal.Decimal
    monkeypatch.setattr(decimal, "Decimal", lambda x: slow.append(x) or real(x))
    assert np.array_equal(ST._cents_half_up(two_dec), want[: len(two_dec)])
    assert slow == []


@pytest.mark.parametrize("seed", [5, 321, 13])  # 13: exercises the
# open-bucket collision exclusion (1 withheld row lands in an open
# user_id bucket — the case that is legitimately unverifiable)
def test_streaming_late_bucket_fuzz_state_isolation(spark, tmp_path, seed):
    """Randomized late-arrival fuzz for the two bucket-booking twins
    (target encode, decayed): rows whose bucket precedes the open bucket
    at delivery time must score NULL, and every OTHER row must match the
    batch operator run on the punctual subset BIT-FOR-BIT — i.e. late
    data is fully isolated from state, not merely flagged."""
    import datetime as dt
    import time as _time

    import numpy as np
    import pandas as pd

    from image_feature_extraction_spark.operators import encode as EN

    B = 3600.0
    rng = np.random.default_rng(seed)
    n = 240
    T0 = dt.datetime(2024, 1, 1)
    ents = rng.choice(["a", "b", "c"], n)
    secs = rng.integers(0, 12 * 86400, n)
    pdf = pd.DataFrame(
        {
            "event_id": np.arange(n),
            "user_id": ents,
            "event_type": rng.choice(["click", "purchase"], n),
            "ts": [T0 + dt.timedelta(seconds=int(s)) for s in secs],
            "value": np.round(rng.normal(50, 20, n), 2),
        }
    )
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    df = spark.createDataFrame(pdf).selectExpr(
        "event_id", "user_id", "event_type",
        "cast(ts as timestamp_ntz) ts", "value",
    )
    # 3 time slices, then FORCE lateness: ~8% of slice-1/2 rows are
    # withheld and delivered in slice 3 instead. Epoch base computed
    # tz-naively (T0.timestamp() would depend on the host timezone).
    e = F.col("ts").cast("timestamp").cast("double")
    base_ep = (pd.Timestamp("2024-01-01") - pd.Timestamp("1970-01-01")).total_seconds()
    b1 = float(4 * 86400 + base_ep)
    b2 = float(8 * 86400 + base_ep)
    late_ids = set(int(i) for i in rng.choice(n, max(4, n // 12), replace=False))
    is_late = F.col("event_id").isin([*late_ids])
    slices = [
        (e <= b1) & ~is_late,
        (e > b1) & (e <= b2) & ~is_late,
        (e > b2) | is_late,
    ]
    d = str(tmp_path / f"latefuzz{seed}")
    for cond in slices:
        df.where(cond).coalesce(1).write.mode("append").parquet(d)
        _time.sleep(1.1)
    schema = df.schema

    def drain(stream_df, name):
        ST.run_to_memory(stream_df, name, "update")
        return (
            spark.table(name).toPandas().sort_values("event_id")
            .reset_index(drop=True).set_index("event_id")
        )

    # which withheld rows are ACTUALLY late per twin key: bucket < the
    # max bucket their key saw in slices 1-2 that precede them... the
    # operator's rule is simply "bucket < open bucket at delivery";
    # compute it per key from the punctual slices' max bucket
    ep = (pdf["ts"] - pd.Timestamp("1970-01-01")).dt.total_seconds()
    pdf["bk"] = np.floor(ep / B)
    pdf["ep"] = ep
    punctual = pdf[~pdf.event_id.isin(late_ids)]
    early_punctual = punctual[punctual["ep"] <= b2]

    # same_bucket_sensitive: decayed's features weight SAME-bucket
    # earlier-ts rows (weight 1), so a withheld row landing in a key's
    # still-OPEN bucket (bk == open_bk, accepted by the guard — the
    # stream cannot know it is out of ts order within the bucket) is
    # scored against cents that already folded LATER-ts same-bucket
    # rows, and punctual same-bucket rows scored earlier never saw it:
    # both legitimately diverge from the batch-on-subset ground truth.
    # Those (key, open-bucket) collision rows are unverifiable here and
    # excluded from the exact-match set (strictly-later buckets fold
    # the same totals either way, so everything downstream still
    # matches exactly). target_encode's features use COMPLETED buckets
    # only — same-bucket order is irrelevant — so it gets no exclusion.
    for twin, batch_op, key_col, cols, same_bucket_sensitive in (
        (
            lambda sdf: ST.streaming_target_encode(
                sdf, by="event_type", ts="ts", label="value", time_bucket=B
            ),
            lambda bdf: EN.target_encode(
                bdf.select("event_id", "event_type", "ts", "value"),
                by="event_type", ts="ts", label="value", time_bucket=B,
            ),
            "event_type",
            ["te_n_prev", "te_mean_prev", "te_enc"],
            False,
        ),
        (
            lambda sdf: ST.streaming_decayed(
                sdf, key="user_id", bucket_seconds=B
            ),
            lambda bdf: EN.decayed_features(
                bdf.select("event_id", "user_id", "ts", "value"),
                by="user_id", ts="ts", value="value", bucket_seconds=B,
            ),
            "user_id",
            ["decay_sum", "decay_cnt"],
            True,
        ),
    ):
        name = f"lf_{key_col}_{seed}"
        sdf = ST.stream_events(spark, d, schema, max_files_per_trigger=1)
        got = drain(twin(sdf), name)
        assert len(got) == n  # every row flows through

        # per-key open bucket after slices 1+2 (what state has seen)
        open_bk = (
            early_punctual.groupby(key_col)["bk"].max().to_dict()
        )
        late_mask = {
            int(r.event_id): r.bk < open_bk.get(getattr(r, key_col), -np.inf)
            for r in pdf[pdf.event_id.isin(late_ids)].itertuples()
        }
        truly_late = [i for i, is_l in late_mask.items() if is_l]
        on_time = [i for i in range(n) if i not in set(truly_late)]
        assert truly_late, "fuzz produced no late rows — fixture broken"

        # 1) late rows: NULL features
        for c in cols:
            assert got.loc[truly_late, c].isna().all(), (c, seed)

        # 2) punctual rows: EXACT match with batch over the punctual
        # delivery order (late rows never entered state, so batch over
        # the on-time subset is the ground truth)
        compare = list(on_time)
        if same_bucket_sensitive:
            # drop (key, open-bucket) collision rows — see the loop
            # header comment. A withheld non-late row at exactly the
            # open bucket contaminates only that (key, bucket) cell.
            withheld = pdf[pdf.event_id.isin(late_ids)]
            collide = {
                (getattr(r, key_col), r.bk)
                for r in withheld.itertuples()
                if r.bk == open_bk.get(getattr(r, key_col), -np.inf)
            }
            if collide:
                drop = {
                    int(r.event_id)
                    for r in pdf.itertuples()
                    if (getattr(r, key_col), r.bk) in collide
                }
                compare = [i for i in compare if i not in drop]
        batch_in = df.where(F.col("event_id").isin(on_time))
        want = (
            batch_op(batch_in).toPandas()
            .sort_values("event_id").reset_index(drop=True)
            .set_index("event_id")
        )
        g = got.loc[compare, cols].sort_index()
        w = want.loc[compare, cols].sort_index()
        pd.testing.assert_frame_equal(g, w, check_dtype=False)
        assert len(compare) > 0.8 * len(on_time)  # exclusion stays small
