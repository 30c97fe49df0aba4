"""Similarity search over an embedding column (array<float>).

- ``cosine_topk``: brute-force exact top-k — the correctness baseline.
  Query set x corpus as a keyed join; at 10^12 corpus rows this is the
  verification path for a candidate set, not the primary search.
- ``lsh_topk``: multi-table random-hyperplane (sign) LSH — the scale
  path. Bucket = sign bits of h fixed hyperplanes; search cost drops from
  O(corpus) to O(bucket) per query with recall controlled by the number
  of hyperplanes/tables.
- ``ivf_topk``: k-means inverted-file ANN (below).

Hyperplane coefficients are md5-derived +-1 (deterministic, engine
portable) — cosine-of-signs LSH needs only direction-uniform hyperplanes,
and Rademacher +-1 vectors are direction-uniform enough in 64-D while
staying exactly representable in SQL for the DuckDB oracle.

All vector math is float64 numpy inside Arrow batches (pandas_udf): one
matmul per batch for the bucket signs, one row-wise einsum per batch for
the cosine (``_row_cosine``, the engine's single cosine definition). The
DuckDB oracle sums left to right instead; on the fixtures every
hyperplane dot is equal and every cosine agrees after round(., 6).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd  # noqa: F401  (resolves pandas_udf type hints under future-annotations)
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def hyperplane_coeffs(n_planes: int, dim: int, table: int = 0) -> list[list[float]]:
    """Deterministic +-1 coefficients: sign of bit0 of md5(table:plane:dim).
    `table` seeds independent hash tables for multi-table LSH."""
    out = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            h = hashlib.md5(f"hp:{table}:{p}:{d}".encode()).digest()[0]
            row.append(1.0 if h & 1 else -1.0)
        out.append(row)
    return out


def _cosine_blas_udf():
    """Arrow-vectorized (pandas_udf) exact cosine: one numpy einsum per
    batch (``_row_cosine``).

    NULL, never NaN, where there is no cosine: a null vector, or a
    zero-norm one (nq*nc == 0). NaN sorts ABOVE every real cosine under
    F.desc and would rank those candidates first; NULL sorts last. DuckDB's
    list_cosine_similarity returns -1.0 for a zero vector instead; the
    fixtures contain none."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def cos(qa: pd.Series, cb: pd.Series) -> pd.Series:
        ok = qa.notna().to_numpy() & cb.notna().to_numpy()
        out = np.full(len(qa), None, dtype=object)
        if ok.any():
            Q = np.stack([np.asarray(v, dtype=np.float64) for v in qa[ok]])
            C = np.stack([np.asarray(v, dtype=np.float64) for v in cb[ok]])
            c = _row_cosine(Q, C)
            has = ~np.isnan(c)
            out[np.flatnonzero(ok)[has]] = c[has]
        return pd.Series(out, dtype=object)

    return cos


def _row_cosine(Q: np.ndarray, C: np.ndarray) -> np.ndarray:
    """Row-wise cosine of two equal-shape matrices. ONE definition shared
    by the Spark-side pandas_udf paths AND the numpy oracle generators
    (the IVF VALUES-literal oracle) — per-row einsum summation order is
    fixed, so sharing the function makes Spark and oracle bit-identical.
    A row with nq*nc == 0 gets NaN, without a divide-by-zero warning."""
    dot = np.einsum("ij,ij->i", Q, C)
    nq = np.sqrt(np.einsum("ij,ij->i", Q, Q))
    nc = np.sqrt(np.einsum("ij,ij->i", C, C))
    den = nq * nc
    return np.divide(dot, den, out=np.full_like(dot, np.nan), where=den != 0)


def _rank_topk(scored: DataFrame, k: int, query_id_col: str) -> DataFrame:
    """Top-k per query by (cosine desc, neighbor id asc); NULL cosines
    rank last. Output: (query_id, rank, neighbor_id, cosine)."""
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, "rank", "neighbor_id", F.round("cosine", 6).alias("cosine"))
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k by cosine per query vector. Deterministic tie-break:
    (cosine desc, neighbor id asc). Self-matches (same id) excluded.
    A null or zero-norm vector has a NULL cosine and ranks last.

    Output: (query_id, rank, neighbor_id, cosine)."""
    q = queries.select(
        F.col(query_id_col), F.col(vec_col).alias("_qv")
    )
    from ..session import widen_small_scan

    c = widen_small_scan(corpus).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv")
    )
    cos = _cosine_blas_udf()
    scored = (
        q.crossJoin(c)
        .where(F.col(query_id_col) != F.col("neighbor_id"))
        .withColumn("cosine", cos(F.col("_qv"), F.col("_cv")))
    )
    return _rank_topk(scored, k, query_id_col)


def _table_buckets(df: DataFrame, n_tables, n_planes, dim, vec_col):
    """(tbl, bkt) exploded rows — one row per (input row, table). Bit p
    of a table's bucket is set iff dot(vec, plane_p) > 0, all tables from
    ONE numpy matmul per Arrow batch against the (dim x tables*planes)
    coefficient matrix.

    Rows with a null vector are excluded from every table (they have no
    bucket). A vector whose length is not `dim` fails the task with a
    ValueError naming both — never a silent bucket that would pile every
    such row into one all-pairs task.
    """
    from pyspark.sql.functions import pandas_udf

    from ..session import widen_small_scan

    df = widen_small_scan(df).where(F.col(vec_col).isNotNull())
    W = (
        np.array(
            [hyperplane_coeffs(n_planes, dim, t) for t in range(n_tables)],
            dtype=np.float64,
        )
        .reshape(n_tables * n_planes, dim)
        .T
    )  # (dim, tables*planes), ~25 KB — ships in the task closure
    weights = 1 << np.arange(n_planes, dtype=np.int64)

    @pandas_udf("array<long>")
    def buckets(v: pd.Series) -> pd.Series:
        if not len(v):
            return pd.Series(dtype=object)
        rows = [np.asarray(x, dtype=np.float64) for x in v]
        for r in rows:
            if len(r) != dim:
                raise ValueError(
                    f"LSH bucketing: vector of length {len(r)} does not "
                    f"match dim={dim}"
                )
        bits = (np.stack(rows) @ W > 0).reshape(len(rows), n_tables, n_planes)
        bkt = (bits * weights).sum(axis=2)  # (batch, tables)
        return pd.Series(list(bkt))

    return (
        df.withColumn("_bkts", buckets(F.col(vec_col)))
        .select(
            *[c for c in df.columns],
            # _outer: no inferred size>0 filter re-evaluating the UDF
            F.posexplode_outer("_bkts").alias("tbl", "bkt"),
        )
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 6,
    n_tables: int = 8,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k with MULTI-TABLE hyperplane LSH: candidates are
    the union over `n_tables` independent tables of same-bucket matches
    (an equi join on (table, bucket) per side), deduplicated, then scored
    with the EXACT cosine (``_cosine_blas_udf``) and ranked. Recall is
    tuned by (n_planes, n_tables): fewer planes -> bigger buckets; more
    tables -> more chances to collide. Cost per query is the union of its
    bucket sizes, never the corpus.

    Every vector must have length `dim` (ValueError otherwise); null
    vectors are never candidates, and a zero-norm candidate ranks last
    with a NULL cosine.

    Output: (query_id, rank, neighbor_id, cosine)."""
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv"))
    q = queries.select(F.col(query_id_col), F.col(vec_col).alias("_qv"))
    cb = _table_buckets(c, n_tables, n_planes, dim, "_cv")
    qb = _table_buckets(q, n_tables, n_planes, dim, "_qv")
    # Dedup on IDS ONLY — running distinct over rows that carry the
    # vectors would shuffle every embedding n_tables times; the vectors
    # are joined back once per unique candidate pair instead.
    cand_ids = (
        qb.select(query_id_col, "tbl", "bkt")
        .join(cb.select("neighbor_id", "tbl", "bkt"), ["tbl", "bkt"])
        .where(F.col(query_id_col) != F.col("neighbor_id"))
        .select(query_id_col, "neighbor_id")
        .distinct()
    )
    cand = cand_ids.join(q, query_id_col).join(c, "neighbor_id")
    cos = _cosine_blas_udf()
    scored = cand.withColumn("cosine", cos(F.col("_qv"), F.col("_cv")))
    return _rank_topk(scored, k, query_id_col)


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: k-means coarse quantizer -> per-list candidate
# search. The second scale path next to hyperplane LSH (lsh_topk): LSH
# needs no training and gives analytic recall; IVF adapts its partitions
# to the data distribution (clustered corpora get tighter candidate sets)
# at the cost of a driver-side training step on a bounded sample.
# ---------------------------------------------------------------------------

def _ivf_sample_order(id_col):
    """Deterministic uniform sample order: md5 of 'ivfsample:<id>' —
    reproducible in pure Python by the oracle generator (xxhash64 would
    not be), uniform regardless of id distribution."""
    return F.md5(F.concat(F.lit("ivfsample:"), F.col(id_col).cast("string")))


def kmeans_centroids(
    df: DataFrame,
    n_lists: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sample_cap: int = 100_000,
    iters: int = 8,
) -> "np.ndarray":
    """Spherical k-means coarse quantizer, trained driver-side on a
    BOUNDED deterministic sample (hash-ordered limit — uniform, partition-
    invariant, and replayable by the pure-numpy oracle). Deterministic by
    construction: init = first n_lists sample rows in hash order, fixed
    Lloyd iteration count, empty lists keep their previous centroid, ties
    in assignment go to the lowest list id (np.argmax). Returns L2-
    normalized centroids (n_lists, dim) float64.

    At 10^12 rows the sample stays sample_cap rows (one bounded collect,
    like the broadcast as-of cap); training cost is
    O(cap * n_lists * dim * iters) on the driver — seconds for 1e5 x
    4096 x 64."""
    rows = (
        df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
        .where(F.col(vec_col).isNotNull())
        .orderBy(_ivf_sample_order("_id"), F.col("_id"))
        .limit(sample_cap)
        .toPandas()
    )
    if len(rows) < n_lists:
        raise ValueError(
            f"kmeans_centroids: sample has {len(rows)} usable vectors, "
            f"need at least n_lists={n_lists}"
        )
    X = np.stack([np.asarray(v, dtype=np.float64) for v in rows["_v"]])
    return _kmeans_np(X, n_lists, iters)


def _kmeans_np(X: "np.ndarray", n_lists: int, iters: int) -> "np.ndarray":
    """The pure-numpy Lloyd core of kmeans_centroids, shared with the IVF
    oracle generator (same sample order in, bit-identical centroids out).
    X: raw sample vectors in the deterministic sample order.

    The centroid update is ONE scatter-add pass (np.add.at + bincount),
    O(cap * dim) per iteration — a per-list boolean-mask loop would scan
    the whole sample n_lists times per iteration (~3e9 comparisons at
    cap=1e5, n_lists=4096)."""
    if n_lists <= 0:
        raise ValueError(f"n_lists must be positive, got {n_lists}")
    norms = np.linalg.norm(X, axis=1)
    X = X[norms > 0] / norms[norms > 0, None]
    if len(X) < n_lists:
        raise ValueError("kmeans_centroids: not enough non-zero vectors")
    C = X[:n_lists].copy()
    for _ in range(int(iters)):
        assign = np.argmax(X @ C.T, axis=1)
        sums = np.zeros_like(C)
        np.add.at(sums, assign, X)
        counts = np.bincount(assign, minlength=n_lists)
        cn = np.linalg.norm(sums, axis=1)
        upd = (counts > 0) & (cn > 0)
        C[upd] = sums[upd] / cn[upd, None]
    return C


def assign_ivf_lists(
    df: DataFrame,
    centroids,
    vec_col: str = "embedding",
    out_col: str = "list_id",
) -> DataFrame:
    """Append the nearest-centroid list id (broadcast centroids, one numpy
    matmul per Arrow batch — narrow, zero-shuffle). Null vectors get a
    null list id (excluded from search). ``centroids`` may be an ndarray
    or an already-created Broadcast of one (ivf_topk passes its own so the
    matrix ships to executors once, not twice)."""
    from pyspark import Broadcast
    from pyspark.sql.functions import pandas_udf

    if isinstance(centroids, Broadcast):
        b_c = centroids
    else:
        C = np.ascontiguousarray(centroids, dtype=np.float64)
        b_c = df.sparkSession.sparkContext.broadcast(C)

    @pandas_udf("long")
    def assign(v: pd.Series) -> pd.Series:
        C_ = b_c.value
        ok = v.notna().to_numpy()
        out = np.full(len(v), None, dtype=object)
        if ok.any():
            M = np.stack([np.asarray(x, dtype=np.float64) for x in v[ok]])
            out[ok] = np.argmax(M @ C_.T, axis=1).astype(np.int64)
        return pd.Series(out, dtype=object)

    return df.withColumn(out_col, assign(F.col(vec_col)))


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_lists: int = 16,
    n_probe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    centroids: "np.ndarray | None" = None,
    sample_cap: int = 100_000,
    iters: int = 8,
) -> DataFrame:
    """IVF approximate top-k: corpus rows are binned by nearest centroid;
    each query probes its n_probe nearest lists and rescores exact cosine
    (shared _row_cosine) only within them — candidate work is
    n_probe/n_lists of brute force. Output (query_id, rank, neighbor_id,
    cosine) like cosine_topk; a neighbor is missed only if none of the
    probed lists contain it.

    Scale shape: assignment is a narrow matmul; the ONLY corpus shuffle
    is the equi-join on list_id (at rest, store the corpus bucketed by
    list_id and even that shuffle disappears); the top-k window shuffles
    candidates on query_id (rows = n_queries x n_probe x avg list size).
    """
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    if n_probe <= 0:
        # an empty probe array would silently drop every query row
        raise ValueError(f"n_probe must be positive, got {n_probe}")
    if centroids is None:
        centroids = kmeans_centroids(
            corpus, n_lists, vec_col=vec_col, id_col=id_col,
            sample_cap=sample_cap, iters=iters,
        )
    from pyspark.sql.functions import pandas_udf

    from ..session import widen_small_scan

    C = np.ascontiguousarray(centroids, dtype=np.float64)
    b_c = corpus.sparkSession.sparkContext.broadcast(C)
    np_probe = int(n_probe)

    @pandas_udf("array<long>")
    def probes(v: pd.Series) -> pd.Series:
        C_ = b_c.value
        ok = v.notna().to_numpy()
        out = np.full(len(v), None, dtype=object)
        if ok.any():
            M = np.stack([np.asarray(x, dtype=np.float64) for x in v[ok]])
            sims = M @ C_.T
            # stable argsort of -sims: ties go to the lower list id
            top = np.argsort(-sims, axis=1, kind="stable")[:, :np_probe]
            # per-cell assignment: a bulk out[ok] = [rows...] would make
            # numpy stack the rows into a 2-D array and reject it
            for j, row in zip(np.flatnonzero(ok), top):
                out[j] = row.astype(np.int64)
        return pd.Series(out, dtype=object)

    c = widen_small_scan(corpus).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv")
    )
    c = assign_ivf_lists(c, b_c, vec_col="_cv")
    q = queries.select(
        F.col(query_id_col), F.col(vec_col).alias("_qv")
    ).withColumn("list_id", F.explode(probes(F.col("_qv"))))
    cos = _cosine_blas_udf()
    scored = (
        q.join(c, "list_id")
        .where(F.col(query_id_col) != F.col("neighbor_id"))
        .withColumn("cosine", cos(F.col("_qv"), F.col("_cv")))
    )
    return _rank_topk(scored, k, query_id_col)
