"""The benchmark's two workloads: the public-API pipeline each pass runs,
and the check of its output against an independent reference.

``tokens``
    scan -> ``operators.asof.asof_join_broadcast`` against the hourly
    per-source stats -> ``operators.features.extract_features`` at scales
    (1.0, 2.0) -> ``noop`` write. Checked row by row against the generated
    input and a pandas ``merge_asof`` of the same stats; every feature vector
    must be histograms over the doc's ``n_tok`` cells, and a seeded sample
    that includes hot docs must match the per-doc
    ``kernels.doc_feature_vector``.

``event_windows``
    the registered queries ``q_lag_lead``, ``q_backfill``, ``q_sessionize``
    and ``q_asof_join`` from ``__spark_entry__.queries()``, each as a
    ``noop`` write. Checked order-insensitively against DuckDB running the
    registry's own oracle SQL over the same parquet.

A check returns a list of mismatch descriptions; an empty list means the
output is correct.
"""

from __future__ import annotations

import os

import numpy as np

SCALES = (1.0, 2.0)
EVENT_QUERIES = ("q_lag_lead", "q_backfill", "q_sessionize", "q_asof_join")
FEATURE_SAMPLE = 64
HOT_MIN_TOKENS = 2048


def sink(df, out: str | None = None) -> None:
    """A timed pass writes to ``noop``; the first warm-up pass writes parquet
    to ``out`` for the output check."""
    if out is None:
        df.write.format("noop").mode("overwrite").save()
    else:
        df.write.mode("overwrite").parquet(out)


# ---------------------------------------------------------------------------
# tokens
# ---------------------------------------------------------------------------

def tokens_scan(spark, in_dir: str):
    return spark.read.parquet(os.path.join(in_dir, "tokens.parquet"))


def tokens_asof(spark, in_dir: str):
    from image_feature_extraction_spark.operators.asof import asof_join_broadcast

    stats = spark.read.parquet(os.path.join(in_dir, "stats.parquet"))
    return asof_join_broadcast(tokens_scan(spark, in_dir), stats, on="ts", by="source")


def tokens_pipeline(spark, in_dir: str):
    from image_feature_extraction_spark.operators.features import extract_features

    return extract_features(tokens_asof(spark, in_dir), scales=SCALES)


def tokens_pass(spark, in_dir: str, out_dir: str | None = None) -> None:
    sink(tokens_pipeline(spark, in_dir), out_dir and os.path.join(out_dir, "tokens"))


def check_tokens(in_dir: str, out_dir: str, seed: int) -> list[str]:
    """Compare the pipeline's output with independent references."""
    import pandas as pd
    import pyarrow.parquet as pq

    from image_feature_extraction_spark.functions import kernels as K

    src = pq.read_table(os.path.join(in_dir, "tokens.parquet")).sort_by("doc_id")
    got = pq.read_table(os.path.join(out_dir, "tokens")).sort_by("doc_id")
    if got.num_rows != src.num_rows:
        return [f"tokens: {got.num_rows} output rows, {src.num_rows} input rows"]
    bad = []
    for col in ("doc_id", "n_tok", "source", "ts"):
        if not got[col].equals(src[col]):
            bad.append(f"tokens: column {col} differs from the input")
    g_tok, s_tok = got["tokens"].combine_chunks(), src["tokens"].combine_chunks()
    g_off = g_tok.offsets.to_numpy() - g_tok.offsets[0].as_py()
    s_off = s_tok.offsets.to_numpy() - s_tok.offsets[0].as_py()
    g_vals = g_tok.flatten().to_numpy()
    if not (
        np.array_equal(g_off, s_off)
        and np.array_equal(g_vals, s_tok.flatten().to_numpy())
    ):
        bad.append("tokens: token arrays differ from the input")

    # as-of columns: backward, inclusive match per source
    stats = pq.read_table(os.path.join(in_dir, "stats.parquet")).to_pandas()
    left = src.select(["doc_id", "source", "ts"]).to_pandas()
    ref = pd.merge_asof(
        left.sort_values("ts", kind="stable"),
        stats.sort_values("ts", kind="stable"),
        on="ts", by="source", direction="backward",
    ).sort_values("doc_id", kind="stable")
    for col in ("bucket_docs", "bucket_mean_len"):
        want = ref[col].to_numpy(dtype=np.float64)
        have = got[col].to_pandas().to_numpy(dtype=np.float64)
        if not np.array_equal(want, have, equal_nan=True):
            n = int((~((want == have) | (np.isnan(want) & np.isnan(have)))).sum())
            bad.append(f"tokens: {n} rows of {col} differ from merge_asof")

    # features: every vector has the right length and, per (scale, feature),
    # holds counts / n_tok over the doc's n_tok foreground cells, so each
    # histogram sums to 1 in steps of 1/n_tok; a seeded sample with hot docs
    # matches the per-doc kernel
    feats = got["features"].combine_chunks()
    n_bins = K.default_edges().shape[-1] + 1
    vec_len = len(SCALES) * K.NUM_FEATURES * n_bins
    if not (np.diff(feats.offsets.to_numpy()) == vec_len).all():
        return bad + [f"tokens: a feature vector is not {vec_len} long"]
    n_tok = got["n_tok"].to_numpy()
    fvals = feats.flatten().to_numpy().reshape(-1, vec_len)
    hist = fvals.reshape(len(n_tok), -1, n_bins)
    counts = hist * n_tok[:, None, None]
    broken = ~(
        np.isclose(hist.sum(-1), 1.0, rtol=0, atol=1e-9).all(-1)
        & np.isclose(counts, np.round(counts), rtol=0, atol=1e-6).all((-2, -1))
    )
    if broken.any():
        bad.append(f"tokens: {int(broken.sum())} feature vectors are not histograms over n_tok cells")
    rng = np.random.default_rng([seed, 3])
    hot = np.flatnonzero(n_tok >= HOT_MIN_TOKENS)
    sample = np.union1d(
        rng.choice(hot, size=min(len(hot), FEATURE_SAMPLE // 8), replace=False),
        rng.choice(len(n_tok), size=min(len(n_tok), FEATURE_SAMPLE), replace=False),
    )
    n_bad = 0
    for i in sample:
        toks = g_vals[g_off[i]:g_off[i + 1]]
        if not np.allclose(fvals[i], K.doc_feature_vector(toks, SCALES), rtol=1e-9, atol=1e-12):
            n_bad += 1
    if n_bad:
        bad.append(f"tokens: {n_bad} of {len(sample)} sampled feature vectors differ")
    return bad


# ---------------------------------------------------------------------------
# event_windows
# ---------------------------------------------------------------------------

def event_queries() -> dict:
    import __spark_entry__ as entry

    qs = entry.queries()
    return {name: qs[name] for name in EVENT_QUERIES}


def events_pass(spark, in_dir: str, out_dir: str | None = None) -> None:
    for name, fn in event_queries().items():
        sink(fn(spark, in_dir), out_dir and os.path.join(out_dir, name))


def oracle(name: str) -> str:
    from image_feature_extraction_spark.plans.queries import ORACLE_SQL

    sql = ORACLE_SQL[name]
    return sql() if callable(sql) else sql


def _sql_str(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def check_events(in_dir: str, out_dir: str) -> list[str]:
    """Order-insensitive multiset equality of each query's output with its
    DuckDB oracle."""
    import duckdb

    bad = []
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW events AS SELECT * FROM "
            f"read_parquet({_sql_str(os.path.join(in_dir, 'events.parquet'))})"
        )
        for name in EVENT_QUERIES:
            con.execute(
                "CREATE OR REPLACE VIEW spark_out AS SELECT * FROM "
                f"read_parquet({_sql_str(os.path.join(out_dir, name, '*.parquet'))})"
            )
            con.execute(f"CREATE OR REPLACE VIEW oracle_out AS {oracle(name)}")
            s_cols = [r[0] for r in con.execute("DESCRIBE spark_out").fetchall()]
            o_cols = [r[0] for r in con.execute("DESCRIBE oracle_out").fetchall()]
            if sorted(s_cols) != sorted(o_cols):
                bad.append(f"{name}: columns {sorted(s_cols)} != oracle {sorted(o_cols)}")
                continue
            cols = ", ".join(f'"{c}"' for c in sorted(s_cols))
            n_s, n_o, only_s, only_o = con.execute(
                f"""
                SELECT (SELECT count(*) FROM spark_out),
                       (SELECT count(*) FROM oracle_out),
                       (SELECT count(*) FROM (SELECT {cols} FROM spark_out
                                              EXCEPT ALL SELECT {cols} FROM oracle_out)),
                       (SELECT count(*) FROM (SELECT {cols} FROM oracle_out
                                              EXCEPT ALL SELECT {cols} FROM spark_out))
                """
            ).fetchone()
            if n_s != n_o or only_s or only_o:
                bad.append(
                    f"{name}: {n_s} rows vs oracle {n_o}; {only_s} only in Spark, "
                    f"{only_o} only in the oracle"
                )
    finally:
        con.close()
    return bad
