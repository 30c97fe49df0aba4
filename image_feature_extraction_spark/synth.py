"""Deterministic synthesis of the pre-tokenized training-sequence table.

Schema per the driver's input hint (BASELINE.json:15):
    doc_id string, tokens array<int32>, n_tok int32, source string
plus a derived event-time column `ts long` (epoch seconds, monotone per
source) as the substrate for as-of joins and windowed ops.

Every value is a pure function of the doc index via md5 — stable across
runs, partitionings, and machines (no wall clock, no unseeded RNG). The
same generator backs the Spark table and the local pandas/numpy oracle, so
tests can compare them row-by-row.

Distribution targets (FIXTURES.md §1): n_tok in [16, 1024] with ~1% hot
docs up to 8192 (exercises salting/AQE), sources Zipf-ish over 8 values.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

from .session import map_in_arrow

VOCAB = 50257
SOURCES = tuple(f"src{i}" for i in range(8))
# Zipf-ish cumulative weights over the 8 sources (percent).
_SOURCE_CUM = np.cumsum([40, 20, 12, 8, 6, 5, 5, 4])
TS_BASE = 1_700_000_000  # fixed epoch anchor
TS_STEP = 7  # seconds between consecutive doc ids


def _seed(doc_id: str) -> int:
    return int.from_bytes(hashlib.md5(doc_id.encode()).digest()[:8], "little")


def doc_id_of(i: int) -> str:
    return f"doc{i:012d}"


def doc_meta(i: int) -> tuple:
    """(doc_id, n_tok, source, ts) for doc index i — the token-free part of
    doc_row, cheap enough to evaluate driver-side for stats tables."""
    doc_id = doc_id_of(i)
    seed = _seed(doc_id)
    if i % 101 == 0:  # ~1% hot docs
        n_tok = 2048 + seed % 6145  # [2048, 8192]
    else:
        n_tok = 16 + seed % 1009  # [16, 1024]
    src = SOURCES[int(np.searchsorted(_SOURCE_CUM, (seed >> 8) % 100, side="right"))]
    return doc_id, n_tok, src, TS_BASE + i * TS_STEP, seed


def doc_meta_pandas(n_docs: int, start: int = 0) -> pd.DataFrame:
    """Metadata table (doc_id, n_tok, source, ts) without token arrays."""
    rows = [doc_meta(i)[:4] for i in range(start, start + n_docs)]
    return pd.DataFrame(rows, columns=["doc_id", "n_tok", "source", "ts"])


def doc_row(i: int) -> dict:
    """Fully deterministic row for doc index i."""
    doc_id, n_tok, src, ts, seed = doc_meta(i)
    rng = np.random.Generator(np.random.PCG64(seed))
    tokens = rng.integers(0, VOCAB, n_tok, dtype=np.int32)
    return {
        "doc_id": doc_id,
        "tokens": tokens,
        "n_tok": np.int32(n_tok),
        "source": src,
        "ts": np.int64(ts),
    }


def token_table_pandas(n_docs: int, start: int = 0) -> pd.DataFrame:
    rows = [doc_row(i) for i in range(start, start + n_docs)]
    return pd.DataFrame(rows)


TOKEN_TABLE_SCHEMA = (
    "doc_id string, tokens array<int>, n_tok int, source string, ts long"
)


def _gen_token_batches(batches):
    """mapInArrow generator: first input column = doc indices."""
    import pyarrow as pa

    for rb in batches:
        ids = rb.column(0).to_numpy()
        rows = [doc_row(int(i)) for i in ids]
        lens = np.fromiter((r["n_tok"] for r in rows), np.int32, len(rows))
        offsets = np.zeros(len(rows) + 1, dtype=np.int32)
        np.cumsum(lens, out=offsets[1:])
        flat = (
            np.concatenate([r["tokens"] for r in rows])
            if rows
            else np.empty(0, np.int32)
        )
        yield pa.record_batch(
            [
                pa.array([r["doc_id"] for r in rows], pa.string()),
                pa.ListArray.from_arrays(pa.array(offsets), pa.array(flat)),
                pa.array(lens, pa.int32()),
                pa.array([r["source"] for r in rows], pa.string()),
                pa.array(np.fromiter((r["ts"] for r in rows), np.int64, len(rows))),
            ],
            names=["doc_id", "tokens", "n_tok", "source", "ts"],
        )


def token_table(spark, n_docs: int, partitions: int | None = None):
    """Distributed deterministic token table: spark.range + mapInArrow.

    Generation is embarrassingly parallel and seed-stable per doc index, so
    the table is identical for any partition count — the property the
    engine's shuffle-invariance tests rely on. Arrow-native construction
    (flat values + offsets) skips per-row python object boxing for the
    token arrays.
    """
    rng_df = spark.range(0, n_docs, 1, partitions or spark.sparkContext.defaultParallelism)
    return map_in_arrow(rng_df, _gen_token_batches, TOKEN_TABLE_SCHEMA)


def token_table_for_ids(spark, ids, partitions: int | None = None):
    """Token table for an EXPLICIT doc-index list. Use when a caller can
    pre-select indices with the token-free `doc_meta` (e.g. one partition
    unit's docs): generation cost is len(ids), not the whole corpus —
    synthesizing everything and filtering afterward pays the token
    generation for every discarded doc."""
    n_part = partitions or spark.sparkContext.defaultParallelism
    ids_df = spark.createDataFrame(
        [(int(i),) for i in ids], "id long"
    ).repartition(max(1, min(n_part, len(ids) or 1)))
    return map_in_arrow(ids_df, _gen_token_batches, TOKEN_TABLE_SCHEMA)


def doc_ids_of_source(n_docs: int, source: str) -> list[int]:
    """Doc indices belonging to one source unit, computed token-free."""
    return [i for i in range(n_docs) if doc_meta(i)[2] == source]


# ---------------------------------------------------------------------------
# Deterministic embedding synthesis (similarity/ANN fixtures)
# ---------------------------------------------------------------------------

def embedding_row(i: int, dim: int) -> np.ndarray:
    """Deterministic float64 vector for embedding id i (md5-seeded PCG64,
    same determinism contract as doc_row)."""
    seed = _seed(f"emb:{i}")
    rng = np.random.Generator(np.random.PCG64(seed))
    return rng.standard_normal(dim)


def embedding_table_pandas(n: int, dim: int) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": [embedding_row(i, dim) for i in range(n)],
        }
    )


def embedding_table(spark, n: int, dim: int, partitions: int | None = None):
    """Distributed deterministic embedding table (vec_id, embedding):
    spark.range + mapInPandas, identical for any partition count."""
    rng_df = spark.range(
        0, n, 1, partitions or spark.sparkContext.defaultParallelism
    )

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            yield pd.DataFrame(
                {
                    "vec_id": ids.astype(np.int64),
                    "embedding": [embedding_row(int(i), dim) for i in ids],
                }
            )

    return rng_df.mapInPandas(gen, "vec_id long, embedding array<double>")
