"""Feature-extraction operators: token sequences -> per-doc feature vectors.

Spark-first design notes
------------------------
The per-sample pipeline (normalized Gaussian convolution -> gradient
magnitude + Hessian -> eigenvalue features -> masked per-feature histograms,
SURVEY.md §3.1/§3.3) is row-local: each document depends only on its own
tokens. The idiomatic Spark shape is therefore ``mapInArrow`` — a narrow
(zero-shuffle) Arrow-batched transform, chained into the stage of the
engine Arrow operator it is applied to. This beats the reference's design
in two ways (SURVEY.md §4 X5/X7): the whole numeric chain is fused into
one numpy pass per batch (the reference materializes ~15 intermediate
volumes), and all scales are computed in a single pass over each doc.

``applyInPandas`` grouped variants exist below for the genuinely grouped
computations (per-source corpus histograms), where a shuffle is semantically
required; partial aggregation keeps it one shuffle of small maps.

At 100 TB: the stage keeps its source's partitioning (parquet split sizing
via spark.sql.files.maxPartitionBytes governs task granularity); no skew
concern because there is no key. Arrow batch size is bounded by
spark.sql.execution.arrow.maxRecordsPerBatch (session.py sets 512) so a
batch of hot 8192-token docs (~21^3 cells * 8 features * 8B ≈ 0.6 MiB each)
stays ~300 MiB worst-case per task — sized for 4-8 GiB executors.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, StructField, StructType

from ..functions import kernels as K
from ..session import map_in_arrow, widen_small_scan


def extract_features(
    df: DataFrame, num_partitions: int | None = None, **opts
) -> DataFrame:
    """Append a per-doc feature vector column: one mapInArrow stage,
    chained into an engine Arrow operator's stage when ``df`` is its direct
    output (session.map_in_arrow). Options (scales, edges, tokens_col,
    output_col) are those of features_stage.

    The stage's source (``df`` or the chain's source) is first widened by
    widen_small_scan or, with num_partitions, repartitioned (round-robin)
    to that count. Set it when the source ends in a shuffle: AQE coalesces
    post-shuffle partitions by BYTES, which starves a compute-bound Python
    stage (a 24 MB input can carry 160 core-seconds of numpy). On a
    cluster, size to 2-3x total cores.
    """
    spread = (lambda s: s.repartition(num_partitions)) if num_partitions else widen_small_scan
    return map_in_arrow(df, *features_stage(df.schema, **opts), prepare=spread)


def features_stage(
    schema: StructType,
    scales=K.DEFAULT_SCALES,
    edges: np.ndarray | None = None,
    tokens_col: str = "tokens",
    output_col: str = "features",
):
    """(batch function, output schema) of extract_features for an input of
    ``schema``: the function maps Arrow record batches to record batches
    with ``output_col`` appended, so it runs as its own mapInArrow stage or
    chained with other batch functions inside one.

    Vector layout: scale-major, then feature, then histogram bin
    (reference MakeBag.cxx:459-470). Token arrays pass through unchanged
    (the per-row invariant of BASELINE.json:15).
    """
    scales_t = tuple(float(s) for s in scales)
    edges_arr = None if edges is None else np.asarray(edges, dtype=np.float64)
    out_schema = StructType(
        schema.fields + [StructField(output_col, ArrayType(DoubleType()), False)]
    )
    tok_idx = schema.names.index(tokens_col)

    # mapInArrow, not mapInPandas: the token column stays a zero-copy Arrow
    # ListArray end to end. The pandas route boxes every row into a python
    # object ndarray on the way in AND the way out — measured as the
    # dominant cost of the stage once the kernel itself was optimized.
    def fn(batches):
        import pyarrow as pa

        for rb in batches:
            toks = rb.column(tok_idx)
            if isinstance(toks, pa.ChunkedArray):
                toks = toks.combine_chunks()
            offsets = toks.offsets.to_numpy()
            flat = toks.values.to_numpy()
            views = [
                flat[offsets[i] : offsets[i + 1]] for i in range(len(rb))
            ]
            vecs = K.batch_feature_vectors(views, scales_t, edges_arr)
            n, L = vecs.shape
            feat_arr = pa.ListArray.from_arrays(
                pa.array(np.arange(n + 1, dtype=np.int32) * L),
                pa.array(vecs.ravel(), type=pa.float64()),
            )
            yield pa.record_batch(
                list(rb.columns) + [feat_arr],
                names=list(rb.schema.names) + [output_col],
            )

    return fn, out_schema


# ---------------------------------------------------------------------------
# Phase 1 of the two-phase flow (SURVEY.md §3.2): corpus statistics ->
# equalized histogram edges per (scale, feature).
# ---------------------------------------------------------------------------

_LONG_SCHEMA = "scale_idx int, feature_idx int, value double, salt long"


def sample_feature_values(
    df: DataFrame,
    scales=K.DEFAULT_SCALES,
    doc_fraction: float = 0.1,
    cells_per_doc: int = 64,
    seed: int = 42,
    tokens_col: str = "tokens",
) -> DataFrame:
    """Long-format sample of per-cell feature values: (scale_idx,
    feature_idx, value, salt). Mirrors the reference's random-iterator
    sampling (DetermineHistogramBinEdges_MultiScaleEigenvalueFeatures.cxx:
    236-262): sample docs, then sample foreground cells within each doc.

    Deterministic and PARTITION-INVARIANT: the per-doc cell-choice seed
    comes from doc_id when present, else from a hash of the token CONTENT
    (never a batch-local index, which would change with partitioning).
    `salt` is a row-unique deterministic value (doc seed ^ cell index) so
    downstream caps can order rows uniformly — ordering on the value alone
    would keep whole duplicate-value blocks.

    One pandas DataFrame per BATCH (flat numpy accumulation), not one per
    (doc, scale, feature).
    """
    scales_t = tuple(float(s) for s in scales)
    sampled = df.sample(fraction=doc_fraction, seed=seed) if doc_fraction < 1.0 else df
    nf = K.NUM_FEATURES

    def fn(batches):
        import hashlib

        for pdf in batches:
            toks_list = [np.asarray(t) for t in pdf[tokens_col]]
            if "doc_id" in pdf:
                doc_keys = pdf["doc_id"].tolist()
            else:
                doc_keys = [
                    hashlib.md5(t.tobytes()).hexdigest() for t in toks_list
                ]
            si_a, fi_a, val_a, salt_a = [], [], [], []
            for toks, did in zip(toks_list, doc_keys):
                img, cert = K.pad_to_cube(toks)
                fg = np.flatnonzero(cert.reshape(-1))
                if len(fg) == 0:
                    continue
                dseed = int.from_bytes(
                    hashlib.md5(f"cells:{seed}:{did}".encode()).digest()[:8], "little"
                )
                rng = np.random.Generator(np.random.PCG64(dseed))
                take = min(cells_per_doc, len(fg))
                chosen = rng.choice(fg, size=take, replace=False)
                salts = (np.int64(dseed & ((1 << 62) - 1)) ^ chosen).astype(np.int64)
                for si, sigma in enumerate(scales_t):
                    feats = K.emphysema_features(img, cert, sigma)
                    flat = feats.reshape(-1, nf)[chosen]
                    # feature-major flatten: rows for fi=0 first, etc.
                    si_a.append(np.full(take * nf, si, dtype=np.int32))
                    fi_a.append(np.repeat(np.arange(nf, dtype=np.int32), take))
                    val_a.append(np.asarray(flat.T.reshape(-1), dtype=np.float64))
                    salt_a.append(np.tile(salts, nf))
            if si_a:
                yield pd.DataFrame(
                    {
                        "scale_idx": np.concatenate(si_a),
                        "feature_idx": np.concatenate(fi_a),
                        "value": np.concatenate(val_a),
                        "salt": np.concatenate(salt_a),
                    }
                )

    return sampled.mapInPandas(fn, _LONG_SCHEMA)


def compute_equalized_edges(
    values_long: DataFrame,
    n_scales: int,
    n_bins: int,
    sample_cap: int = 200_000,
) -> np.ndarray:
    """Exact duplicate-aware equi-depth edges per (scale, feature) from the
    long-format sample. The sample is bounded (<= sample_cap rows per
    (scale,feature), enforced by a seeded limit), collected, sorted, and run
    through the exact reference algorithm — faithful to the reference's
    bounded-sample design, and driver-memory-safe at any corpus size.

    Returns edges ndarray (n_scales, NUM_FEATURES, n_bins - 1).
    """
    # cap rows per key deterministically before collecting. The ordering
    # hashes the ROW-UNIQUE salt (not just the value): ordering on the
    # value alone keeps whole duplicate-value blocks together, so a
    # heavily-duplicated low-hash value could fill the entire cap and
    # bias the edges; hashing the salt gives a uniform row sample.
    from pyspark.sql import Window

    order_cols = (
        ["value", "salt"] if "salt" in values_long.columns else ["value"]
    )
    w = Window.partitionBy("scale_idx", "feature_idx").orderBy(
        F.xxhash64(*order_cols, F.lit(17))
    )
    capped = (
        values_long.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= sample_cap)
        .drop("rn")
    )
    pdf = capped.toPandas()
    edges = np.zeros((n_scales, K.NUM_FEATURES, n_bins - 1), dtype=np.float64)
    for (si, fi), grp in pdf.groupby(["scale_idx", "feature_idx"]):
        vals = np.sort(grp["value"].to_numpy())
        edges[si, fi] = K.equalized_edges(vals, n_bins)
    return edges


# ---------------------------------------------------------------------------
# Grouped corpus histograms (applyInPandas — shuffle is semantically needed)
# ---------------------------------------------------------------------------

def per_source_histograms(
    df: DataFrame,
    scales=K.DEFAULT_SCALES,
    edges: np.ndarray | None = None,
) -> DataFrame:
    """Per-(source, scale, feature) corpus histogram COUNTS.

    Two-stage aggregation: map-side partial histograms per input partition
    (mapInPandas, no shuffle), then the partial count-arrays are
    posexploded to (source, scale, feature, bin) rows and reduced with a
    plain SUM — which combines MAP-SIDE, so the reducer never sees more
    than one row per (key, bin) per map partition and never materializes
    a list. (The previous collect_list+fold formulation buffered one
    counts-array per map partition per key on the reducer — bounded, but
    at 400k scan tasks that is 400k * n_bins longs per hot key.) The
    bin-summed rows — a table bounded by sources x scales x features x
    bins regardless of corpus size — are reassembled into bin-ordered
    arrays with a final tiny aggregation.
    """
    if edges is None:
        edges = K.default_edges()
    edges = np.asarray(edges, dtype=np.float64)
    if edges.ndim == 2:
        edges = np.broadcast_to(edges, (len(scales),) + edges.shape).copy()
    scales_t = tuple(float(s) for s in scales)
    n_bins = edges.shape[-1] + 1

    partial_schema = "source string, scale_idx int, feature_idx int, counts array<long>"

    def partial(batches):
        for pdf in batches:
            acc: dict[tuple, np.ndarray] = {}
            for src, toks in zip(pdf["source"], pdf["tokens"]):
                toks = np.asarray(toks)
                img, cert = K.pad_to_cube(toks)
                fg = cert.reshape(-1) != 0
                for si, sigma in enumerate(scales_t):
                    feats = K.emphysema_features(img, cert, sigma)
                    flat = feats.reshape(-1, K.NUM_FEATURES)[fg]
                    for fi in range(K.NUM_FEATURES):
                        key = (src, si, fi)
                        c = K.histogram_counts(flat[:, fi], edges[si, fi])
                        if key in acc:
                            acc[key] += c
                        else:
                            acc[key] = c
            if acc:
                yield pd.DataFrame(
                    [
                        {"source": k[0], "scale_idx": k[1], "feature_idx": k[2], "counts": v}
                        for k, v in acc.items()
                    ]
                )

    partials = df.mapInPandas(partial, partial_schema)
    # posexplode -> SUM per (key, bin): partial aggregation runs map-side,
    # nothing list-shaped ever reaches a reducer
    summed = partials.select(
        "source", "scale_idx", "feature_idx",
        F.posexplode("counts").alias("bin", "c"),
    ).groupBy("source", "scale_idx", "feature_idx", "bin").agg(
        F.sum("c").alias("c")
    )
    # reassemble bin-ordered arrays; the input here is <= |sources| *
    # |scales| * NUM_FEATURES * n_bins rows, so the sort+collect is tiny
    return summed.groupBy("source", "scale_idx", "feature_idx").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("bin", "c"))),
            lambda s: s["c"],
        ).alias("counts")
    )
