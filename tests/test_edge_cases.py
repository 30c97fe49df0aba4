"""Degenerate-input battery: empty frames, single rows, empty right sides,
docs with fewer words than the shingle width."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from image_feature_extraction_spark import synth
from image_feature_extraction_spark.functions import kernels as K
from image_feature_extraction_spark.operators import dedup as D
from image_feature_extraction_spark.operators import text as T
from image_feature_extraction_spark.operators.asof import (
    asof_join,
    asof_join_broadcast,
)
from image_feature_extraction_spark.operators.features import extract_features
from image_feature_extraction_spark.operators.windows import sessionize


def test_features_empty_and_single(spark):
    empty = synth.token_table(spark, 0)
    assert extract_features(empty, scales=(1.0,)).count() == 0
    one = extract_features(synth.token_table(spark, 1), scales=(1.0,)).collect()
    assert len(one) == 1 and len(one[0]["features"]) == K.NUM_FEATURES * 5


def test_asof_empty_right_all_strategies(spark):
    left = spark.createDataFrame(
        pd.DataFrame({"entity_id": [1, 2], "ts": [10, 20], "lv": [1.0, 2.0]})
    )
    right = spark.createDataFrame(
        [], "entity_id long, ts long, rv double"
    )
    for fn in (asof_join, asof_join_broadcast):
        out = fn(left, right, on="ts", by="entity_id").toPandas()
        assert len(out) == 2
        assert out["rv"].isna().all()


def test_asof_single_rows(spark):
    left = spark.createDataFrame(pd.DataFrame({"entity_id": [1], "ts": [10], "lv": [1.0]}))
    right = spark.createDataFrame(pd.DataFrame({"entity_id": [1], "ts": [10], "rv": [9.0]}))
    for fn in (asof_join, asof_join_broadcast):
        out = fn(left, right, on="ts", by="entity_id").toPandas()
        assert out["rv"].tolist() == [9.0]  # inclusive equal-ts match


def test_shingles_short_docs(spark):
    docs = spark.createDataFrame(
        [(1, "one two"), (2, "a"), (3, ""), (4, "x y z")],
        "doc_id long, text string",
    )
    sh = D.shingles(docs, n=3).toPandas()
    assert set(sh["doc_id"]) == {4}  # only the 3-word doc has a trigram
    sig = D.minhash_signatures(docs, n=3).toPandas()
    assert set(sig["doc_id"]) == {4}


def test_text_ops_on_empty_text(spark):
    docs = spark.createDataFrame([(1, ""), (2, "  ")], "doc_id long, text string")
    ts = T.token_stats(docs).toPandas()
    # whitespace-split of "" yields one empty token in both engines; the
    # contract is no crash and consistent counts
    assert len(ts) == 2
    lid = T.langid(docs).toPandas()
    assert (lid["predicted_lang"] == "und").all()


def test_sessionize_single_event(spark):
    df = spark.createDataFrame(pd.DataFrame({"k": ["u"], "t": [5.0]}))
    out = sessionize(df, by="k", ts="t", gap=10).toPandas()
    assert out["session_id"].tolist() == [1]


def test_kernel_min_tokens():
    v = K.doc_feature_vector(np.array([7], dtype=np.int32), scales=(1.0,))
    assert len(v) == K.NUM_FEATURES * 5
    assert np.isfinite(v).all()


def test_asof_round2_strategies_empty_and_single(spark):
    from image_feature_extraction_spark.operators.asof import asof_join_auto

    left = spark.createDataFrame(
        pd.DataFrame({"entity_id": [1, 2], "ts": [10, 20], "lv": [1.0, 2.0]})
    )
    empty_right = spark.createDataFrame([], "entity_id long, ts long, rv double")
    out = asof_join_auto(left, empty_right, on="ts", by="entity_id").toPandas()
    assert len(out) == 2 and out["rv"].isna().all()
    # interpolate with a single right row: exact hit returns the sample,
    # everything else is outside the hull
    one = spark.createDataFrame(
        pd.DataFrame({"entity_id": [1], "ts": [10], "rv": [7.5]})
    )
    for fn in (asof_join, asof_join_broadcast):
        got = {
            (r.entity_id, r.ts): r.rv
            for r in fn(
                left, one, on="ts", by="entity_id", direction="interpolate"
            ).collect()
        }
        assert got[(1, 10)] == 7.5
        assert got[(2, 20)] is None or pd.isna(got[(2, 20)])
    # empty LEFT side comes back empty, schema intact
    empty_left = spark.createDataFrame([], "entity_id long, ts long, lv double")
    for fn in (asof_join, asof_join_broadcast):
        out = fn(empty_left, one, on="ts", by="entity_id")
        assert out.count() == 0 and set(out.columns) == {"entity_id", "ts", "lv", "rv"}


def test_mode_label_empty_and_all_ignored(spark):
    from image_feature_extraction_spark.operators.labels import mode_label

    empty = spark.createDataFrame([], "g string, label string")
    assert mode_label(empty, by="g", label_col="label").count() == 0
    only_ign = spark.createDataFrame(
        [("g1", "bad"), ("g1", "bad")], "g string, label string"
    )
    assert mode_label(only_ign, by="g", label_col="label", ignore=("bad",)).count() == 0


def test_embedding_bucketed_tiny_inputs(spark):
    e0 = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert D.embedding_neardup_pairs_bucketed(e0, dim=4).count() == 0
    e1 = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0])], "vec_id long, embedding array<double>"
    )
    assert D.embedding_neardup_pairs_bucketed(e1, dim=4).count() == 0
    # two identical vectors -> one pair at cosine 1.0
    e2 = spark.createDataFrame(
        [(1, [1.0, 2.0, 0.0, 0.0]), (2, [1.0, 2.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    rows = D.embedding_neardup_pairs_bucketed(e2, threshold=0.9, dim=4).collect()
    assert len(rows) == 1 and rows[0].id_a == 1 and rows[0].cosine == 1.0


def test_asof_null_timestamps_never_match(spark):
    """Review regression: a null left ts must never match (searchsorted on
    NaN would 'match' the last right row), identically across strategies;
    null right ts rows are unmatchable, and so is a NaN time."""
    left = spark.createDataFrame(
        pd.DataFrame({"entity_id": [1, 1], "ts": [20.0, None], "lv": [1.0, 2.0]})
    )
    right = spark.createDataFrame(
        pd.DataFrame({"entity_id": [1, 1], "ts": [10.0, None], "rv": [5.0, 9.0]})
    )
    for fn in (asof_join, asof_join_broadcast):
        out = fn(left, right, on="ts", by="entity_id").toPandas()
        assert len(out) == 2, fn.__name__
        got = {r["lv"]: r["rv"] for _, r in out.iterrows()}
        assert got[1.0] == 5.0, fn.__name__          # normal match
        assert pd.isna(got[2.0]), fn.__name__        # null ts -> no match
    # timestamp-typed null ts through both strategies (NaT path in broadcast)
    lp = pd.DataFrame(
        {
            "entity_id": [1, 1],
            "ts": pd.to_datetime(["2024-01-01 00:00:20", None]),
            "lv": [1.0, 2.0],
        }
    )
    rp = pd.DataFrame(
        {
            "entity_id": [1],
            "ts": pd.to_datetime(["2024-01-01 00:00:10"]),
            "rv": [5.0],
        }
    )
    for fn in (asof_join_broadcast, asof_join):
        out = fn(
            spark.createDataFrame(lp), spark.createDataFrame(rp),
            on="ts", by="entity_id", direction="forward",
        ).toPandas()
        got = {r["lv"]: r["rv"] for _, r in out.iterrows()}
        assert pd.isna(got[2.0]), fn.__name__  # NaT must not match FIRST row
    # a NaN time in a double column never matches either, in any strategy
    nan = float("nan")
    left = spark.createDataFrame(
        [(1, 20.0, 1.0), (1, nan, 2.0)], "entity_id long, ts double, lv double"
    )
    right = spark.createDataFrame(
        [(1, 10.0, 5.0), (1, nan, 9.0)], "entity_id long, ts double, rv double"
    )
    for fn in (asof_join, asof_join_broadcast):
        for direction, exp in (("backward", 5.0), ("forward", None)):
            got = {
                r["lv"]: r["rv"]
                for r in fn(
                    left, right, on="ts", by="entity_id", direction=direction
                ).collect()
            }
            assert got == {1.0: exp, 2.0: None}, (fn.__name__, direction, got)


def test_asof_null_payload_tie_break_parity(spark):
    """Duplicate right ts where one payload is null: every strategy picks
    the non-null (greatest) payload for backward."""
    left = spark.createDataFrame(
        pd.DataFrame({"entity_id": [1], "ts": [20.0], "lv": [0.0]})
    )
    right = spark.createDataFrame(
        pd.DataFrame({"entity_id": [1, 1], "ts": [10.0, 10.0], "rv": [None, 5.0]})
    )
    for fn in (asof_join, asof_join_broadcast):
        out = fn(left, right, on="ts", by="entity_id").toPandas()
        assert out["rv"].iloc[0] == 5.0, fn.__name__


def test_asof_null_and_nan_payload_parity(spark):
    """A matched NaN payload comes back NaN and a null one null, in both
    strategies and all five directions, cell for cell: pandas holds both
    as NaN, so the broadcast output carries an explicit null mask. NaN
    and null payloads sit at distinct and at duplicate timestamps."""
    import math
    import struct

    nan = float("nan")
    right = spark.createDataFrame(
        [
            (1, 10.0, nan, 1), (1, 20.0, None, 2),
            (1, 30.0, 1.0, 3), (1, 30.0, nan, 4), (1, 30.0, None, None),
            (1, 40.0, 2.0, 6), (1, 50.0, nan, 7), (1, 50.0, None, 8),
            (1, 60.0, 3.0, 9), (1, 70.0, 4.0, 10), (1, 80.0, None, None),
        ],
        "entity_id long, ts double, rv double, ri long",
    )
    probes = [5.0 * i for i in range(1, 18)]
    left = spark.createDataFrame(
        [(1, t, i) for i, t in enumerate(probes)], "entity_id long, ts double, lid long"
    )

    def cells(fn, direction, tol=None):
        out = fn(left, right, on="ts", by="entity_id", direction=direction, tolerance=tol)
        return {
            r["lid"]: tuple(
                struct.pack("<d", v) if isinstance(v, float) else v
                for v in (r["rv"], r["ri"])
            )
            for r in out.collect()
        }

    for direction in ("backward", "forward", "nearest", "interpolate", "cubic"):
        for tol in (None, 5.0):
            a = cells(asof_join, direction, tol)
            b = cells(asof_join_broadcast, direction, tol)
            assert a == b, (direction, tol, {k: (a[k], b[k]) for k in a if a[k] != b[k]})
    rv = {
        r["ts"]: r["rv"]
        for r in asof_join_broadcast(left, right, on="ts", by="entity_id").collect()
    }
    assert math.isnan(rv[10.0]) and rv[20.0] is None
    # duplicate ts=30: backward takes the greatest payload, NaN
    assert math.isnan(rv[30.0]) and math.isnan(rv[35.0])
    fwd = {
        r["ts"]: r["rv"]
        for r in asof_join_broadcast(
            left, right, on="ts", by="entity_id", direction="forward"
        ).collect()
    }
    # forward takes the least, null; a null payload reads null, not NaN
    assert fwd[25.0] is None and fwd[30.0] is None and math.isnan(fwd[5.0])


def test_asof_window_fill_single_winning_row(spark):
    """The winning right row's null field must stay null — per-column
    fills would substitute the value from an EARLIER row (frankenrow)."""
    left = spark.createDataFrame(
        pd.DataFrame({"entity_id": [1], "ts": [25.0], "lv": [0.0]})
    )
    right = spark.createDataFrame(
        pd.DataFrame(
            {
                "entity_id": [1, 1],
                "ts": [10.0, 20.0],
                "a": [1.0, 3.0],
                "b": [2.0, None],
            }
        )
    )
    out = asof_join(left, right, on="ts", by="entity_id").toPandas()
    assert out["a"].iloc[0] == 3.0
    assert pd.isna(out["b"].iloc[0])  # NOT 2.0 from the ts=10 row


def test_gaussian_smooth_null_ts_and_entity(spark):
    from image_feature_extraction_spark.operators.windows import (
        gaussian_time_smooth,
    )

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "entity_id": [1.0, 1.0, None],
                "ts": [10.0, None, 30.0],
                "v": [5.0, 6.0, 7.0],
            }
        )
    )
    out = gaussian_time_smooth(
        df, by="entity_id", ts="ts", value="v", sigma=10.0
    ).toPandas()
    assert len(out) == 3  # no silent row drops
    got = {r["v"]: r["smoothed"] for _, r in out.iterrows()}
    assert got[5.0] == pytest.approx(5.0)  # only observed neighbor: itself
    assert pd.isna(got[6.0])               # null ts -> null smoothed
    assert got[7.0] == pytest.approx(7.0)  # null entity still self-matches


def test_text_matrix_literal_separator(spark, tmp_path):
    p = tmp_path / "pipe.csv"
    p.write_text("1|2|3\n4|5|6\n")
    from image_feature_extraction_spark.sources import textual as TX

    out = TX.read_text_matrix(spark, str(p), col_sep="|").toPandas()
    assert out["_invalid"].isna().all()
    assert sorted(out["n_cols"]) == [3, 3]


def test_octave_garbled_token_raises(spark, tmp_path):
    from image_feature_extraction_spark.sources import textual as TX

    p = tmp_path / "garbled.mat"
    p.write_text("# c\n# name: v\n# type: matrix\n# ndims: 3\n 2 1 1\n1.0 1.2e+x\n")
    with pytest.raises(ValueError, match="unparseable"):
        TX.read_octave_volume(spark, str(p))


def test_lsh_null_vectors_and_blas_guard(spark):
    from image_feature_extraction_spark.operators import similarity as S2

    pdf = pd.DataFrame(
        {
            "vec_id": [1, 2, 3, 4],
            "embedding": [[1.0, 0.0], [0.9, 0.1], None, [0.0, 1.0]],
        }
    )
    e = spark.createDataFrame(pdf, "vec_id long, embedding array<double>")
    q = e.where(F.col("vec_id") == 1).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = S2.lsh_topk(e, q, k=3, n_planes=2, n_tables=2, dim=2).toPandas()
    # the null-vector row is excluded, never crashes the job
    assert 3 not in set(out["neighbor_id"])
    assert len(out) >= 1


def test_zero_norm_vector_ranks_last_with_null_cosine(spark):
    """A zero vector has no direction: both search paths finish (no ANSI
    divide-by-zero, no numpy warning) and rank it last with a NULL cosine."""
    import warnings

    from image_feature_extraction_spark.operators import similarity as S2

    e = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 0.0]), (3, [0.9, 0.1]), (4, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    q = e.where(F.col("vec_id") == 1).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    # table 0's single plane is (-1, -1): every vector here, the zero one
    # included, lands in bucket 0, so all three are LSH candidates
    lsh = S2.lsh_topk(e, q, k=3, n_planes=1, n_tables=1, dim=2)
    for out in (S2.cosine_topk(e, q, k=3), lsh):
        got = out.toPandas().sort_values("rank")
        assert got["neighbor_id"].tolist() == [3, 4, 2]
        assert got["cosine"].isna().tolist() == [False, False, True]
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        assert np.isnan(S2._row_cosine(np.zeros((1, 2)), np.ones((1, 2)))).all()


def test_lsh_wrong_dim_raises_clear_error(spark):
    from image_feature_extraction_spark.operators import similarity as S2

    e = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.9, 0.1])], "vec_id long, embedding array<double>"
    )
    q = e.select(F.col("vec_id").alias("query_id"), "embedding")
    with pytest.raises(Exception, match=r"ValueError: .*length 2 does not match dim=3"):
        S2.lsh_topk(e, q, k=1, n_planes=2, n_tables=2, dim=3).collect()


def test_equalized_edges_cap_is_uniform_not_value_blocked(spark):
    """Review regression: capping the edge sample must take a uniform row
    sample, not whole blocks of one duplicated value."""
    from image_feature_extraction_spark.operators.features import (
        compute_equalized_edges,
    )

    rng = np.random.default_rng(0)
    n_dup, n_uni = 4000, 4000
    vals = np.concatenate([np.full(n_dup, 7.0), rng.uniform(0, 100, n_uni)])
    pdf = pd.DataFrame(
        {
            "scale_idx": 0,
            "feature_idx": 0,
            "value": vals,
            "salt": np.arange(len(vals), dtype=np.int64),
        }
    )
    long_df = spark.createDataFrame(pdf)
    edges = compute_equalized_edges(long_df, n_scales=1, n_bins=4, sample_cap=2000)
    e = edges[0, 0]
    # with a uniform sample ~half the rows are 7.0 and half spread over
    # [0,100): the upper edges must NOT all collapse to 7.0
    assert e[-1] > 7.0, e
    # degenerate check: all three edges equal would mean the cap kept only
    # the duplicated block
    assert len(np.unique(e)) > 1, e


def test_sample_feature_values_partition_invariant_without_doc_id(spark):
    from image_feature_extraction_spark.operators.features import (
        sample_feature_values,
    )
    from image_feature_extraction_spark import synth

    base = synth.token_table(spark, 24).select("tokens")  # no doc_id

    def collected(parts):
        df = base.repartition(parts)
        out = sample_feature_values(
            df, scales=(1.0,), doc_fraction=1.0, cells_per_doc=8
        ).toPandas()
        return out.sort_values(["scale_idx", "feature_idx", "salt", "value"]).reset_index(
            drop=True
        )

    a, b = collected(2), collected(7)
    pd.testing.assert_frame_equal(a, b)


def test_exact_quantiles_ignore_nulls(spark):
    from image_feature_extraction_spark.operators.quantiles import (
        exact_quantile_values,
    )

    pdf = pd.DataFrame(
        {
            "k": ["a"] * 8,
            "v": [None, None, 1.0, 2.0, 3.0, 4.0, 5.0, 6.0],
        }
    )
    out = exact_quantile_values(
        spark.createDataFrame(pdf), value="v", keys="k", n_bins=2
    ).toPandas()
    # n counts the 6 non-null values; the median position is value 4.0
    assert out["n"].iloc[0] == 6
    assert out["edge_value"].iloc[0] == 4.0


def test_checkpoint_bad_unit_name_and_fresh_read(spark, tmp_path):
    from image_feature_extraction_spark.plans import checkpoint as C

    with pytest.raises(ValueError, match="unit name"):
        C.run_checkpointed(spark, str(tmp_path / "x"), ["2024/01"], lambda s, u: None)
    with pytest.raises(ValueError, match="no completed units"):
        C.read_output(spark, str(tmp_path / "fresh"))


def test_multimodal_null_payload_yields_null_features(spark):
    from image_feature_extraction_spark.operators import multimodal as MM

    df = MM.synth_multimodal(spark, 12)
    from pyspark.sql import functions as FF

    with_null = df.withColumn(
        "payload",
        FF.when(FF.col("doc_id") == df.select("doc_id").first()[0], None).otherwise(
            FF.col("payload")
        ),
    )
    out = MM.extract_multimodal_features(with_null, decode_fn="fake").toPandas()
    assert len(out) == 12
    assert out["mm_features"].isna().sum() == 1


def test_token_table_for_ids_matches_full_table(spark):
    from image_feature_extraction_spark import synth

    full = synth.token_table(spark, 40).toPandas().set_index("doc_id")
    ids = synth.doc_ids_of_source(40, "src0")
    sub = synth.token_table_for_ids(spark, ids).toPandas().set_index("doc_id")
    assert set(sub.index) == {synth.doc_id_of(i) for i in ids}
    assert (sub["source"] == "src0").all()
    for did in sub.index:
        np.testing.assert_array_equal(
            np.asarray(sub.loc[did, "tokens"]), np.asarray(full.loc[did, "tokens"])
        )
    # empty id list -> empty frame, schema intact
    empty = synth.token_table_for_ids(spark, [])
    assert empty.count() == 0 and "tokens" in empty.columns


def test_mode_label_null_labels_never_vote(spark):
    from image_feature_extraction_spark.operators.labels import mode_label

    df = spark.createDataFrame(
        [("g1", None), ("g1", None), ("g1", "a"), ("g2", None)],
        "g string, label string",
    )
    out = mode_label(df, by="g", label_col="label").toPandas().set_index("g")
    assert list(out.index) == ["g1"]  # g2 had only null labels -> no row
    assert out.loc["g1", "mode_label"] == "a"
    assert out.loc["g1", "n_considered"] == 1


def test_widen_small_scan_skips_large_single_file(spark, tmp_path):
    from image_feature_extraction_spark.session import widen_small_scan, _parse_bytes

    assert _parse_bytes("128m") == 128 * 2**20
    assert _parse_bytes("128mb") == 128 * 2**20
    assert _parse_bytes("1g") == 2**30
    assert _parse_bytes("4194304") == 4 * 2**20
    p = str(tmp_path / "one")
    spark.range(0, 1000, 1, 1).write.parquet(p)
    df = spark.read.parquet(p)
    # small single file -> widened
    assert widen_small_scan(df, target=8).rdd.getNumPartitions() == 8
    # pretend the split size is tiny: file now counts as "big enough to
    # split" -> untouched (no repartition exchange)
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1k")
    try:
        out = widen_small_scan(df, target=8)
        assert out is df
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "134217728")


def test_asof_bucketed_null_ts_all_directions(spark):
    """Review regression: forward/nearest must not hand a null-ts left row
    the earliest right payload (the forward walk sorts nulls first)."""
    left = spark.createDataFrame(
        pd.DataFrame({"entity_id": [1, 1], "ts": [20.0, None], "lv": [1.0, 2.0]})
    )
    right = spark.createDataFrame(
        pd.DataFrame({"entity_id": [1, 1], "ts": [10.0, 30.0], "rv": [5.0, 9.0]})
    )
    want = {"backward": 5.0, "forward": 9.0, "nearest": 5.0}
    for direction, exp in want.items():
        out = asof_join(
            left, right, on="ts", by="entity_id", direction=direction
        ).toPandas()
        got = {r["lv"]: r["rv"] for _, r in out.iterrows()}
        assert got[1.0] == exp, (direction, got)
        assert pd.isna(got[2.0]), (direction, got)
    # interpolate too
    out = asof_join(
        left, right, on="ts", by="entity_id", direction="interpolate"
    ).toPandas()
    got = {r["lv"]: r["rv"] for _, r in out.iterrows()}
    assert got[1.0] == pytest.approx(7.0)
    assert pd.isna(got[2.0])


def test_asof_cogroup_all_null_right_ts(spark):
    """A right side whose timestamps are all null matches nothing."""
    left = spark.createDataFrame(
        pd.DataFrame({"entity_id": [1], "ts": [20.0], "lv": [1.0]})
    )
    right = spark.createDataFrame(
        pd.DataFrame({"entity_id": [1, 1], "ts": [None, None], "rv": [5.0, 9.0]})
    )
    for fn in (asof_join, asof_join_broadcast):
        out = fn(left, right, on="ts", by="entity_id").toPandas()
        assert len(out) == 1 and pd.isna(out["rv"].iloc[0]), fn.__name__


def test_pair_list_literal_sep_and_empty_fields(spark, tmp_path):
    from image_feature_extraction_spark.sources import textual as TX

    p = tmp_path / "pairs.psv"
    p.write_text("img1.png|mask1.png\n,oops|x|y\n|maskonly.png\nimgonly.png|\n")
    out = TX.read_pair_list(spark, str(p), sep="|").toPandas()
    good = out[out["_invalid"].isna()]
    assert good["image"].tolist() == ["img1.png"]
    # empty-field rows surface as _invalid instead of vanishing/passing
    assert len(out[out["_invalid"].notna()]) == 3


def test_roi_reader_multi_file_headers(spark, tmp_path):
    from image_feature_extraction_spark.sources import textual as TX

    d = tmp_path / "rois"
    d.mkdir()
    (d / "a.txt").write_text("HEADER A\n[1,1,1][2,2,2]\n")
    (d / "b.txt").write_text("HEADER B\n[3,3,3][4,4,4]\n")
    out = TX.read_roi_file(spark, str(d), header=True).toPandas()
    # both headers skipped, both data rows kept, nothing flagged
    assert out["_invalid"].isna().all()
    assert sorted(out["x"]) == [1, 3]


def test_exact_quantiles_tiny_stratum_matches_first_j(spark):
    """Stratum with n < n_bins: only the FIRST j per position is emitted
    (array_position semantics), mirrored by the oracle's QUALIFY."""
    from image_feature_extraction_spark.operators.quantiles import (
        exact_quantile_values,
    )

    df = spark.createDataFrame(pd.DataFrame({"k": ["a"], "v": [42.0]}))
    out = exact_quantile_values(df, value="v", keys="k", n_bins=4).toPandas()
    assert len(out) == 1
    assert out["edge_idx"].iloc[0] == 0 and out["edge_value"].iloc[0] == 42.0


def test_asof_null_entity_keys_never_match_all_strategies(spark):
    """SQL equality semantics: NULL entity keys never join, identically in
    every strategy (Window.partitionBy would otherwise group NULLs)."""
    left = spark.createDataFrame(
        pd.DataFrame({"entity_id": [None, 1.0], "ts": [10.0, 10.0], "lv": [1.0, 2.0]})
    )
    right = spark.createDataFrame(
        pd.DataFrame({"entity_id": [None, 1.0], "ts": [5.0, 5.0], "rv": [7.0, 8.0]})
    )
    for fn in (asof_join, asof_join_broadcast):
        out = fn(left, right, on="ts", by="entity_id").toPandas()
        got = {r["lv"]: r["rv"] for _, r in out.iterrows()}
        assert len(out) == 2, fn.__name__
        assert pd.isna(got[1.0]), fn.__name__   # null key -> no match
        assert got[2.0] == 8.0, fn.__name__


def test_asof_argument_validation(spark):
    from image_feature_extraction_spark.operators.asof import (
        asof_join_broadcast,
    )

    left = spark.createDataFrame(
        pd.DataFrame({"entity_id": [1], "ts": [10.0], "lv": [0.0]})
    )
    right = spark.createDataFrame(
        pd.DataFrame({"entity_id": [1], "ts": [5.0], "rv": [1.0], "name": ["x"]})
    )
    with pytest.raises(ValueError, match="right_cols must not contain"):
        asof_join(left, right, on="ts", by="entity_id", right_cols=["ts", "rv"])
    for fn in (asof_join, asof_join_broadcast):
        with pytest.raises(ValueError, match="numeric right columns"):
            fn(left, right, on="ts", by="entity_id", direction="interpolate",
               right_cols=["name"])


def test_asof_array_payload_broadcast_and_cogroup(spark):
    """ADVICE r2: the duplicate-ts secondary sort crashed on array-typed
    right payload columns (ndarray cells are unhashable in sort_values).
    Array payloads must join fine AND keep the duplicate-ts tie-break
    (backward = greatest payload, Spark array ordering) in parity with
    asof_join."""
    left = spark.createDataFrame(
        pd.DataFrame({"entity_id": [1, 1, 2], "ts": [10, 20, 10], "lv": [1.0, 2.0, 3.0]})
    )
    # entity 1 has DUPLICATE ts=5 rows whose payloads differ only in the
    # array column: backward must deterministically pick the greatest
    # array ([2,0] > [1,9] elementwise-lexicographic, Spark ordering)
    right = spark.createDataFrame(
        pd.DataFrame(
            {
                "entity_id": [1, 1, 1, 2],
                "ts": [5, 5, 15, 4],
                "emb": [[1, 9], [2, 0], [7, 7], [5, 5]],
            }
        ),
        "entity_id long, ts long, emb array<int>",
    )
    want = {
        (1, 10): [2, 0],
        (1, 20): [7, 7],
        (2, 10): [5, 5],
    }
    window = asof_join(left, right, on="ts", by="entity_id")
    broadcast = asof_join_broadcast(left, right, on="ts", by="entity_id")
    for name, df in (("window", window), ("broadcast", broadcast)):
        got = {
            (r["entity_id"], r["ts"]): list(r["emb"])
            for r in df.collect()
        }
        assert got == want, name


def test_asof_struct_payload_does_not_crash(spark):
    """Map/struct payloads are excluded from the broadcast tie-break sort
    but must not crash any strategy: Spark cannot order a map, nor a
    struct with one inside, so asof_join orders its walks without such
    columns, and asof_join_auto works above the broadcast cap too. A plain
    struct is orderable and keeps breaking duplicate-timestamp ties in
    asof_join."""
    from image_feature_extraction_spark.operators.asof import asof_join_auto

    def window_auto(lf, rt, **kw):
        return asof_join_auto(lf, rt, broadcast_max_rows=0, **kw)

    left = spark.createDataFrame(
        pd.DataFrame({"entity_id": [1, 1], "ts": [6, 10], "lv": [1.0, 2.0]})
    )
    right = spark.createDataFrame(
        [(1, 5, {"a": 2}, (1,), ({"c": 4},), 0.5), (1, 7, {"b": 3}, (2,), ({"d": 5},), 1.5)],
        "entity_id long, ts long, m map<string,int>, s struct<x:int>, "
        "sm struct<m:map<string,int>>, v double",
    )
    want = {6: ({"a": 2}, 1, {"c": 4}, 0.5), 10: ({"b": 3}, 2, {"d": 5}, 1.5)}
    for join in (asof_join, asof_join_broadcast, window_auto):
        for direction in ("backward", "forward", "nearest"):
            out = join(left, right, on="ts", by="entity_id", direction=direction).collect()
            got = {
                r["ts"]: (r["m"], r["s"]["x"] if r["s"] else None,
                          r["sm"]["m"] if r["sm"] else None, r["v"])
                for r in out
            }
            if direction == "backward":
                assert got == want
            elif direction == "forward":
                assert got == {6: want[10], 10: (None, None, None, None)}
            else:
                assert got == {6: want[6], 10: want[10]}

    # duplicate right timestamps that differ only in a plain struct:
    # backward matches the greatest, forward the least, however the rows
    # are spread over partitions
    left = spark.createDataFrame(pd.DataFrame({"entity_id": [1, 1], "ts": [4, 6]}))
    dups = spark.createDataFrame(
        [(1, 5, (x, f"s{x}")) for x in (3, 7, 1, 9, 5, 2, 8, 4, 6)],
        "entity_id long, ts long, s struct<x:int, y:string>",
    ).repartition(4)
    for join in (asof_join, window_auto):
        for direction, want in (("backward", {4: None, 6: 9}), ("forward", {4: 1, 6: None})):
            out = join(left, dups, on="ts", by="entity_id", direction=direction).collect()
            assert {r["ts"]: r["s"]["x"] if r["s"] else None for r in out} == want, direction


def test_widen_small_scan_many_tiny_files(spark, tmp_path):
    """ADVICE r2: a file count above target must not short-circuit the
    widening — the guard asks Spark for the ACTUAL planned scan partition
    count, then widens under-parallel small inputs. Either way the result
    must reach target parallelism without losing rows."""
    from image_feature_extraction_spark.session import widen_small_scan

    pdf = pd.DataFrame({"x": np.arange(64)})
    spark.createDataFrame(pdf).repartition(16).write.mode("overwrite").parquet(
        str(tmp_path / "tiny")
    )
    df = spark.read.parquet(str(tmp_path / "tiny"))
    assert len(df.inputFiles()) >= 8
    out = widen_small_scan(df, target=8)
    assert out.rdd.getNumPartitions() >= 8
    assert sorted(r["x"] for r in out.collect()) == list(range(64))
    # a genuinely narrow scan (fewer files than target, all tiny) widens
    spark.createDataFrame(pdf).coalesce(2).write.mode("overwrite").parquet(
        str(tmp_path / "narrow")
    )
    narrow = spark.read.parquet(str(tmp_path / "narrow"))
    assert narrow.rdd.getNumPartitions() < 8
    out2 = widen_small_scan(narrow, target=8)
    assert out2.rdd.getNumPartitions() == 8
    assert sorted(r["x"] for r in out2.collect()) == list(range(64))


def test_widen_small_scan_fills_empty_row_group_splits(spark, token_parquet, tmp_path):
    """A planned split count at target does not mean target busy tasks:
    parquet gives each row group to the split holding its midpoint, so a
    small file of 3 row groups cut into 4 byte ranges scans in 3 tasks,
    and is widened. Small files that Spark never splits, one per planned
    task, already keep every core busy and pass through."""
    import pyarrow.parquet as pq

    from image_feature_extraction_spark.session import widen_small_scan

    def busy(df):
        return df.groupBy(F.spark_partition_id()).count().count()

    spark.conf.set("spark.sql.files.openCostInBytes", "1k")
    try:
        df = spark.read.parquet(token_parquet)
        assert df.rdd.getNumPartitions() == 4
        assert busy(df) < 4
        out = widen_small_scan(df, target=4)
        assert busy(out) == 4
        assert sorted(r.doc_id for r in out.select("doc_id").collect()) == sorted(
            r.doc_id for r in df.select("doc_id").collect()
        )
    finally:
        spark.conf.unset("spark.sql.files.openCostInBytes")
    table = pq.read_table(token_parquet)
    for k in range(4):
        pq.write_table(table.slice(15 * k, 15), str(tmp_path / f"part-{k}.parquet"))
    whole = spark.read.parquet(str(tmp_path))
    assert widen_small_scan(whole, target=4) is whole
    assert busy(whole) == 4


def test_blas_cosine_null_vector_is_null_not_nan(spark):
    """ADVICE r2: the BLAS cosine must return NULL (sorts last under
    F.desc) for null vectors, not NaN (sorts first), even when called
    outside the bucketed flow."""
    from image_feature_extraction_spark.operators.similarity import _cosine_blas_udf

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "a": [[1.0, 0.0], None, [0.0, 1.0]],
                "b": [[1.0, 0.0], [1.0, 0.0], None],
            }
        ),
        "a array<double>, b array<double>",
    )
    cos = _cosine_blas_udf()
    out = df.select(cos("a", "b").alias("c")).toPandas()
    assert out["c"][0] == pytest.approx(1.0)
    assert out["c"][1:].isna().all()
    # ordering: nulls must rank AFTER real cosines under desc
    ranked = (
        df.select(cos("a", "b").alias("c"))
        .orderBy(F.desc("c"))
        .toPandas()
    )
    assert ranked["c"][0] == pytest.approx(1.0)


def test_octave_validation_failure_leaves_no_cache(spark, tmp_path):
    """ADVICE r2: a rejected Octave file must not leak a session-lifetime
    cache entry."""
    from image_feature_extraction_spark.sources import textual as TX

    sc = spark.sparkContext
    before = len(sc._jsc.getPersistentRDDs())
    p = tmp_path / "short.mat"
    p.write_text("# c\n# name: v\n# type: matrix\n# ndims: 3\n 2 2 2\n1.0 2.0\n")
    with pytest.raises(ValueError, match="Not enough values"):
        TX.read_octave_volume(spark, str(p))
    assert len(sc._jsc.getPersistentRDDs()) == before


def test_auto_bucketed_routing_check_survives_dash_O(spark, monkeypatch):
    """The strategy-routing check in q_asof_auto_bucketed must be an
    explicit raise (an `assert` vanishes under python -O)."""
    from image_feature_extraction_spark.operators import asof as A
    from image_feature_extraction_spark.plans import queries_datapipe as QD

    monkeypatch.setattr(A, "choose_asof_strategy", lambda *a, **k: "bucketed")
    with pytest.raises(RuntimeError, match="auto strategy probe"):
        QD.q_asof_auto_bucketed(spark, "/root/testdata/sf0.001")


def test_octave_success_cache_is_caller_unpersistable(spark, tmp_path):
    """Review r3: the cache must be registered on the RETURNED plan, so a
    caller's unpersist after first materialization actually releases it
    (caching the pre-drop frame made that a silent no-op)."""
    from image_feature_extraction_spark.sources import textual as TX

    sc = spark.sparkContext
    before = len(sc._jsc.getPersistentRDDs())
    p = tmp_path / "ok.mat"
    p.write_text(
        "# c\n# name: v\n# type: matrix\n# ndims: 3\n 2 2 2\n1 2 3 4\n5 6 7 8\n"
    )
    header, df = TX.read_octave_volume(spark, str(p))
    assert df.count() == 8
    df.unpersist()
    assert len(sc._jsc.getPersistentRDDs()) == before
