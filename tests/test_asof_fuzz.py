"""Differential as-of fuzz: both physical strategies, every direction,
against pandas ``merge_asof`` plus the duplicate-timestamp rule, and
against each other cell by cell.

The rule: among right rows sharing one (entity, ts), backward takes the
greatest payload and forward the least, in Spark struct ordering over the
right columns (null smallest, NaN greatest). Sorting the oracle's right
side by (ts, payload) gives ``merge_asof`` that rule for free: backward
takes the last row at or before t, forward the first at or after it, and
nearest breaks distance ties toward backward.

The seeded frames are small and hit every edge at once: timestamp ties,
duplicate right timestamps with different payloads, null keys, null
timestamps, null and NaN payloads, distances exactly at the tolerance,
one hot entity holding over half the rows, entities on one side only,
and (separately) an empty right side. The leakage property is checked on
every strategy's own output: a backward match never lies after the left
ts, a forward match never before it, and every match stays within the
tolerance. The two strategies must also agree bitwise, telling null from
NaN, in all five directions; that is the only oracle for cubic.
"""

from __future__ import annotations

import math
import struct

import numpy as np
import pandas as pd
import pytest

from image_feature_extraction_spark.operators.asof import (
    asof_join,
    asof_join_broadcast,
)

DIRECTIONS = ("backward", "forward", "nearest", "interpolate")
STRATEGIES = (asof_join, asof_join_broadcast)
L_SCHEMA = "k long, ts long, lid long"
R_SCHEMA = "k long, ts long, rv double, ri long"


def _gen(seed: int):
    """Left rows (k, ts, lid) and right rows (k, ts, rv, ri) as tuples.

    Entity 0 is hot (about 55% of each side), 1-4 are shared, 5 is
    left-only and 6 right-only; about 5% of keys and timestamps are null.
    Timestamps come from 0..40, so ties and exact tolerance distances are
    common. ``ri`` is a unique row id, so a match names its right row.
    """
    rng = np.random.default_rng(seed)

    def keys(n, pool):
        k = np.where(rng.random(n) < 0.55, 0, rng.choice(pool, n))
        return [None if rng.random() < 0.05 else int(x) for x in k]

    def times(n):
        return [None if rng.random() < 0.05 else int(t) for t in rng.integers(0, 41, n)]

    n_l, n_r = 150, 90
    left = list(zip(keys(n_l, [1, 2, 3, 4, 5]), times(n_l), range(n_l)))
    rv = []
    for u in rng.random(n_r):
        if u < 0.08:
            rv.append(None)
        elif u < 0.16:
            rv.append(float("nan"))
        else:
            rv.append(float(rng.integers(-3, 4)))  # few values: payload ties
    right = list(zip(keys(n_r, [1, 2, 3, 4, 6]), times(n_r), rv, range(1000, 1000 + n_r)))
    # duplicate (entity, ts) groups whose payloads differ in null, NaN and
    # value, so the tie-break decides the match in every direction
    for i, v in enumerate((None, float("nan"), 2.0, -1.0)):
        right.append((0, 20, v, 2000 + i))
        right.append((1, 7, v, 2100 + i))
    return left, right


def _oracle(left, right, direction, tol):
    """lid -> (ri, rv, matched right ts), or lid -> (ri, rv) lerped for
    interpolate; NaN where a left row has no match."""
    lp = pd.DataFrame(left, columns=["k", "ts", "lid"])
    rp = pd.DataFrame(right, columns=["k", "ts", "rv", "ri"])
    # Spark struct ordering of the payload (rv, ri): null < value < NaN;
    # pandas holds null and NaN alike, so rank them from the raw tuples
    rp["_rank"] = [0 if r[2] is None else 2 if math.isnan(r[2]) else 1 for r in right]
    rp = rp.dropna(subset=["k", "ts"]).astype({"k": "int64", "ts": "int64"})
    rp = rp.sort_values(["ts", "_rank", "rv", "ri"], kind="mergesort")
    rp = rp.assign(rts=rp["ts"].astype("float64"))[["k", "ts", "rv", "ri", "rts"]]
    lv = lp.dropna(subset=["k", "ts"]).astype({"k": "int64", "ts": "int64"})
    lv = lv.sort_values("ts", kind="mergesort")

    def merge(d, tolerance=None):
        return pd.merge_asof(
            lv, rp, on="ts", by="k", direction=d,
            tolerance=None if tolerance is None else int(tolerance),
        ).set_index("lid")

    if direction != "interpolate":
        m = merge(direction, tol)
        cols = ["ri", "rv", "rts"]
    else:
        b, f = merge("backward"), merge("forward")
        t, tb, tf = b["ts"].astype("float64"), b["rts"], f["rts"]
        ok = tb.notna() & tf.notna()
        if tol is not None:
            ok &= np.maximum(t - tb, tf - t) <= tol
        denom = tf - tb
        frac = ((t - tb) / denom.where(denom > 0, 1.0)).where(denom > 0, 0.0)
        cols = ["ri", "rv"]
        m = pd.DataFrame(
            {c: (b[c] + (f[c] - b[c]) * frac).where(ok) for c in cols}
        )
    out = {int(i): (np.nan,) * len(cols) for i in lp["lid"]}
    out.update({int(i): tuple(r) for i, r in zip(m.index, m[cols].to_numpy())})
    return out


def _missing(v) -> bool:
    return v is None or (isinstance(v, float) and math.isnan(v))


def _same(a, b) -> bool:
    return (_missing(a) and _missing(b)) or a == b


def _run(fn, ldf, rdf, direction, tol):
    blend = direction in ("interpolate", "cubic")
    out = fn(
        ldf, rdf, on="ts", by="k", direction=direction, tolerance=tol,
        include_right_on=not blend,
    )
    cols = ["lid", "ts", "ri", "rv"] + ([] if blend else ["ts_right"])
    return out.select(*cols).collect()


def _bits(v):
    """A cell as compared bitwise: a float by its IEEE bytes (NaN is not
    null, -0.0 is not 0.0), anything else as is."""
    return struct.pack("<d", v) if isinstance(v, float) else v


def _check_strategies_agree(outs, direction, tol):
    a, b = ({r["lid"]: tuple(_bits(v) for v in r) for r in rows} for rows in outs)
    bad = [(lid, row, b.get(lid)) for lid, row in a.items() if b.get(lid) != row]
    assert len(a) == len(b) and not bad, (
        f"{direction} tol={tol}: {len(bad)} rows differ between strategies, e.g. {bad[:5]}"
    )


def _check(name, rows, want, direction, tol, n_left):
    assert len(rows) == n_left, f"{name}: {len(rows)} rows for {n_left} left rows"
    bad = []
    for r in rows:
        exp = want[r["lid"]]
        got = (r["ri"], r["rv"]) if direction == "interpolate" else (
            r["ri"], r["rv"], None if r["ts_right"] is None else float(r["ts_right"])
        )
        if not all(_same(g, e) for g, e in zip(got, exp)):
            bad.append((r["lid"], got, exp))
        if direction == "interpolate" or None in (r["ts"], r["ts_right"]):
            continue
        # leakage: the matched right ts lies on the direction's side of the
        # left ts and within the tolerance
        d = r["ts"] - r["ts_right"]
        if direction == "backward" and d < 0 or direction == "forward" and d > 0:
            bad.append((r["lid"], "leak", r["ts"], r["ts_right"]))
        if tol is not None and abs(d) > tol:
            bad.append((r["lid"], "beyond tolerance", r["ts"], r["ts_right"]))
    assert not bad, f"{name} {direction} tol={tol}: {len(bad)} bad rows, e.g. {bad[:5]}"


@pytest.mark.parametrize("seed,tol", [(0, None), (1, 3.0)])
def test_asof_differential_fuzz(spark, seed, tol):
    left, right = _gen(seed)
    ldf = spark.createDataFrame(left, L_SCHEMA)
    rdf = spark.createDataFrame(right, R_SCHEMA)
    for direction in (*DIRECTIONS, "cubic"):
        outs = [_run(fn, ldf, rdf, direction, tol) for fn in STRATEGIES]
        if direction in DIRECTIONS:
            want = _oracle(left, right, direction, tol)
            for fn, rows in zip(STRATEGIES, outs):
                _check(fn.__name__, rows, want, direction, tol, len(left))
        _check_strategies_agree(outs, direction, tol)


def test_asof_fuzz_empty_right(spark):
    left, _ = _gen(3)
    ldf = spark.createDataFrame(left, L_SCHEMA)
    rdf = spark.createDataFrame([], R_SCHEMA)
    for direction in (*DIRECTIONS, "cubic"):
        for fn in STRATEGIES:
            rows = _run(fn, ldf, rdf, direction, None)
            assert len(rows) == len(left), fn.__name__
            assert all(_missing(r["ri"]) and _missing(r["rv"]) for r in rows), (
                fn.__name__, direction,
            )
