"""The flagship job: broadcast as-of join + multi-scale feature
extraction over the token table — BASELINE.json's headline workload.

``flagship_pipeline`` is ``synth.token_table`` -> ``asof_join_broadcast``
-> ``extract_features``, chained into ONE mapInArrow stage
(session.map_in_arrow): three separate stages cost two extra JVM<->Python
Arrow crossings (measured ~19% slower on local[4]).
tests/test_asof_windows.py checks the two are equal row for row.
"""

from __future__ import annotations

SCALES = (1.0, 2.0)


def flagship_stats(spark, n_docs: int):
    """The small right side of the flagship as-of join: per (source, hourly
    bucket) doc-count + mean length, stamped at bucket end — the "features
    computed at checkpoint time" shape. In production this is a PRE-EXISTING
    table written by the previous checkpoint; here it is derived
    deterministically from the synth model's token-free metadata."""
    from image_feature_extraction_spark import synth

    meta = synth.doc_meta_pandas(n_docs)
    meta["ts"] = (meta["ts"] // 3600) * 3600 + 3600
    stats_pdf = (
        meta.groupby(["source", "ts"], as_index=False)
        .agg(bucket_docs=("doc_id", "count"), bucket_mean_len=("n_tok", "mean"))
    )
    return spark.createDataFrame(
        stats_pdf[["source", "ts", "bucket_docs", "bucket_mean_len"]]
    )


def flagship_pipeline(spark, n_docs: int, stats=None):
    """As-of join + feature extraction over the token table — the
    BASELINE.json headline. Per-source rolling stats (one row per source
    time-bucket) are as-of joined onto each doc (point-in-time, leakage
    free), then the full 8-feature x 2-scale histogram vector is extracted
    per doc, all in one mapInArrow stage over spark.range."""
    from image_feature_extraction_spark import synth
    from image_feature_extraction_spark.operators.asof import asof_join_broadcast
    from image_feature_extraction_spark.operators.features import extract_features

    if stats is None:
        stats = flagship_stats(spark, n_docs)
    joined = asof_join_broadcast(synth.token_table(spark, n_docs), stats, on="ts", by="source")
    return extract_features(joined, scales=SCALES)
