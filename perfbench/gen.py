"""Seeded input generators for the benchmark's two workloads.

The program under test never sees a seed: it only reads the parquet files
written here. The same ``(seed, size)`` always gives byte-identical tables.

``tokens`` (``<dir>/tokens.parquet`` + ``<dir>/stats.parquet``)
    Docs in the engine's token-table shape
    ``(doc_id string, tokens array<int32>, n_tok int32, source string, ts long)``.
    The length mix follows ``synth``: 99% of docs have 16-1024 tokens
    (uniform), 1% are hot docs of 2048-8192 tokens. Sources are
    ``src0..src7`` with Zipf weights (1/k). Doc times are a Poisson stream,
    7 s mean gap, so a 24k-doc table spans about two days. Token ids are
    uniform over the GPT-2 vocabulary. Row groups hold 1,000 docs, so Spark
    can split the scan across every task slot.
    The stats table is the as-of join's small right side: one row per
    (source, hour) with the doc count and mean length of that hour,
    stamped at the hour's end, so a doc matches the previous full hour
    and first-hour docs match nothing.

``events`` (``<dir>/events.parquet``)
    The ``events`` schema of the sf-dir layout
    ``(event_id long, ts timestamp, user_id long, event_type string,
    value double, props string)``. Unlike sf0.1 (uniform, at most 99 events
    per user), user activity is heavy-tailed: user ``k`` of 20,000 is drawn
    with weight ``k**-0.8``, so the busiest user holds about 3% of the
    events and forms a skewed window partition. Times are uniform over 30
    days at microsecond resolution; ``event_id`` follows time order. Event
    types are uniform over five values; ``value`` is exponential with mean
    50, rounded to cents.

Run as a script to write one input set:
``python3 perfbench/gen.py tokens|events <dir> --seed N [--size N]``.
"""

from __future__ import annotations

import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = 50257
N_SOURCES = 8
TS_BASE = 1_700_000_000
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
N_USERS = 20_000


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def token_table(seed: int, n_docs: int) -> pa.Table:
    rng = _rng(seed, 1)
    hot = rng.random(n_docs) < 0.01
    n_tok = np.where(
        hot, rng.integers(2048, 8193, n_docs), rng.integers(16, 1025, n_docs)
    ).astype(np.int32)
    weights = 1.0 / np.arange(1, N_SOURCES + 1)
    src = rng.choice(N_SOURCES, size=n_docs, p=weights / weights.sum())
    ts = TS_BASE + np.cumsum(rng.exponential(7.0, n_docs)).astype(np.int64)
    offsets = np.zeros(n_docs + 1, dtype=np.int32)
    np.cumsum(n_tok, out=offsets[1:])
    flat = rng.integers(0, VOCAB, int(offsets[-1]), dtype=np.int32)
    return pa.table(
        {
            "doc_id": pa.array([f"doc{i:09d}" for i in range(n_docs)]),
            "tokens": pa.ListArray.from_arrays(pa.array(offsets), pa.array(flat)),
            "n_tok": pa.array(n_tok),
            "source": pa.array([f"src{k}" for k in src]),
            "ts": pa.array(ts),
        }
    )


def stats_table(docs: pa.Table) -> pa.Table:
    """Hourly per-source doc count and mean length, stamped at hour end."""
    meta = docs.select(["source", "ts", "n_tok"]).to_pandas()
    meta["ts"] = (meta["ts"] // 3600) * 3600 + 3600
    stats = meta.groupby(["source", "ts"], as_index=False).agg(
        bucket_docs=("n_tok", "size"), bucket_mean_len=("n_tok", "mean")
    )
    stats["bucket_docs"] = stats["bucket_docs"].astype(np.int64)
    return pa.Table.from_pandas(stats, preserve_index=False)


def events_table(seed: int, n_events: int) -> pa.Table:
    rng = _rng(seed, 2)
    weights = np.arange(1, N_USERS + 1, dtype=np.float64) ** -0.8
    # shuffle ids so the hot users are not simply the smallest ids
    user_ids = rng.permutation(N_USERS).astype(np.int64)
    users = user_ids[rng.choice(N_USERS, size=n_events, p=weights / weights.sum())]
    start_us = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00
    ts_us = np.sort(start_us + rng.integers(0, 30 * 86_400 * 1_000_000, n_events))
    types = np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n_events)]
    value = np.round(rng.exponential(50.0, n_events), 2)
    props = [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]
    return pa.table(
        {
            "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
            "ts": pa.array(ts_us.astype("datetime64[us]")),
            "user_id": pa.array(users),
            "event_type": pa.array(types),
            "value": pa.array(value),
            "props": pa.array(props),
        }
    )


def write_tokens(out_dir: str, seed: int, n_docs: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    docs = token_table(seed, n_docs)
    pq.write_table(docs, os.path.join(out_dir, "tokens.parquet"), row_group_size=1000)
    pq.write_table(stats_table(docs), os.path.join(out_dir, "stats.parquet"))


def write_events(out_dir: str, seed: int, n_events: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(
        events_table(seed, n_events),
        os.path.join(out_dir, "events.parquet"),
        row_group_size=100_000,
    )


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("table", choices=("tokens", "events"))
    ap.add_argument("out_dir")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--size", type=int, required=True)
    a = ap.parse_args()
    (write_tokens if a.table == "tokens" else write_events)(a.out_dir, a.seed, a.size)
