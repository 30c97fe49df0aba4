"""Skew mitigation (salted agg/join invariance) and partitioned-write
pruning (the Iceberg-shaped layout story)."""

import pandas as pd
from pyspark.sql import functions as F

from image_feature_extraction_spark import synth
from image_feature_extraction_spark.operators.skew import (
    salted_agg,
    salted_broadcast_left,
    with_salt,
)


def test_salted_agg_matches_plain_groupby(spark):
    docs = synth.token_table(spark, 500)
    plain = (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("tok_sum"),
            F.max("n_tok").alias("tok_max"),
        )
        .toPandas()
        .sort_values("source")
        .reset_index(drop=True)
    )
    salted = (
        salted_agg(
            docs,
            "source",
            {
                "n_docs": ("sum", F.count(F.lit(1))),
                "tok_sum": ("sum", F.sum("n_tok")),
                "tok_max": ("max", F.max("n_tok")),
            },
            salt_from="doc_id",
            salt_buckets=8,
        )
        .toPandas()
        .sort_values("source")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(plain, salted, check_dtype=False)


def test_salt_determinism_and_spread(spark):
    docs = synth.token_table(spark, 400)
    s1 = with_salt(docs, "doc_id", 8).select("doc_id", "_salt").toPandas()
    s2 = with_salt(docs, "doc_id", 8).select("doc_id", "_salt").toPandas()
    m1 = s1.set_index("doc_id")["_salt"]
    m2 = s2.set_index("doc_id")["_salt"]
    assert (m1.sort_index() == m2.sort_index()).all()  # deterministic
    assert m1.nunique() == 8  # all buckets used
    # hot key (src0, ~40% of docs) spreads across every bucket
    hot = with_salt(docs.where(F.col("source") == "src0"), "doc_id", 8)
    assert hot.select("_salt").distinct().count() == 8


def test_salted_broadcast_left_matches_plain_join(spark):
    docs = synth.token_table(spark, 300).select("doc_id", "source", "n_tok")
    dim = spark.createDataFrame(
        [(s, i) for i, s in enumerate(synth.SOURCES)], "source string, src_rank int"
    )
    plain = (
        docs.join(dim, "source").select("doc_id", "src_rank").toPandas()
        .sort_values("doc_id").reset_index(drop=True)
    )
    salted = (
        salted_broadcast_left(docs, dim, on="source", salt_from="doc_id", salt_buckets=4)
        .select("doc_id", "src_rank").toPandas()
        .sort_values("doc_id").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(plain, salted)


def test_partitioned_write_prunes(spark, tmp_path):
    """Iceberg-shaped layout: partition by source, verify the reader plan
    prunes partitions (PartitionFilters, not a full scan)."""
    out = str(tmp_path / "parts")
    docs = synth.token_table(spark, 300)
    docs.write.partitionBy("source").mode("overwrite").parquet(out)
    rd = spark.read.parquet(out).where(F.col("source") == "src3")
    plan = rd._sc._jvm.PythonSQLUtils.explainString(
        rd._jdf.queryExecution(), "simple"
    )
    assert "PartitionFilters" in plan
    assert "src3" in plan
    want = docs.where(F.col("source") == "src3").count()
    assert rd.count() == want


def test_asof_hot_entity_forward_backward(spark):
    """One entity owns 40% of the left rows, so the entity-window merge
    holds its whole history in one task (SCALE.md). Backward and forward
    matches there must still equal pandas merge_asof; both run over
    running frames, so the hot task costs O(n)."""
    import numpy as np

    from image_feature_extraction_spark.operators.asof import asof_join

    rng = np.random.default_rng(7)
    n_hot, n_cold = 8_000, 12_000
    left = pd.DataFrame(
        {
            "entity_id": np.concatenate(
                [np.zeros(n_hot, np.int64), rng.integers(1, 200, n_cold)]
            ),
            "ts": rng.integers(0, 1_000_000, n_hot + n_cold).astype(np.int64),
            "lv": rng.normal(size=n_hot + n_cold),
        }
    ).drop_duplicates(["entity_id", "ts"])
    right = pd.DataFrame(
        {
            "entity_id": rng.integers(0, 200, 2_000),
            "ts": rng.integers(0, 1_000_000, 2_000).astype(np.int64),
            "rv": rng.normal(size=2_000),
        }
    ).drop_duplicates(["entity_id", "ts"])
    ldf, rdf = spark.createDataFrame(left), spark.createDataFrame(right)
    assert (left["entity_id"] == 0).sum() >= 7_000
    cols = ["entity_id", "ts", "lv", "rv"]
    for direction in ("backward", "forward"):
        got = (
            asof_join(ldf, rdf, on="ts", by="entity_id", direction=direction)
            .toPandas()[cols]
            .sort_values(["entity_id", "ts"])
            .reset_index(drop=True)
        )
        want = (
            pd.merge_asof(
                left.sort_values("ts"), right.sort_values("ts"),
                on="ts", by="entity_id", direction=direction,
            )[cols]
            .sort_values(["entity_id", "ts"])
            .reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(got, want, check_dtype=False, atol=1e-12)
