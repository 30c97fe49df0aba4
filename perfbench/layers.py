"""Per-layer measurement for the traced run, taken from outside the program.

Every number here comes from spans the benchmark records around calls into
the engine's public functions; the program itself is not instrumented.
Spark actions are lazy, so a layer's time is a difference of actions:

- ``scan_s``: the input read alone;
- ``asof.broadcast_s``: (scan -> as-of) minus ``scan_s``;
- ``features.extract_s``: the full pass minus (scan -> as-of);
- ``arrow.roundtrip_s``: scan -> an identity ``mapInArrow`` minus ``scan_s``;
- ``kernels.*``: ``functions.kernels`` timed in-process on one thread;
- ``flagship.docs_per_s``: the fused ``plans.flagship.flagship_pipeline``;
- ``query_s.<q>``, ``operator_s.<op>``, ``query_overhead_s.<q>``: each
  registered query, the same ``operators`` call made directly, and their
  difference (final projection plus terminal sort);
- ``spark.*``: stage metrics parsed from Spark's event log;
- ``jvm.*``: JIT and GC time from ``ManagementFactory`` over py4j;
- ``scaling.eff``: throughput at ``local[N]`` over N x throughput at
  ``local[1]``, the latter in a separate JVM;
- ``fixed.pass_s``: the workload's pass over a tiny input of the same
  generator, the per-pass cost that does not grow with rows, and
  ``fixed.share``, its share of the full pass.

A layer that a workload does not call reads 0 in that workload's record.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time
from contextlib import contextmanager

import numpy as np

import workloads as W

REPEATS = 2
KERNEL_SAMPLE = 256
SCALING_FRACTION = 4


class Tracer:
    """Spans kept in memory and written out when the run ends. A disabled
    tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str, spark=None):
        """Time a block; with ``spark``, its Spark jobs carry the span id as
        their job group, so the event log can be split by span."""
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._open[-1] if self._open else None,
            "start": time.perf_counter(),
        }
        self.spans.append(rec)
        self._open.append(rec["id"])
        if spark is not None:
            spark.sparkContext.setJobGroup(f"span-{rec['id']}", name)
        try:
            yield rec
        finally:
            self._open.pop()
            rec["end"] = time.perf_counter()
            if spark is not None:
                spark.sparkContext.setJobGroup("", "")

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name and "end" in s]

    def child_total(self, parent: int, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["parent"] == parent and s["name"] == name)

    def median(self, name: str) -> float:
        d = self.durations(name)
        return statistics.median(d) if d else 0.0

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f, indent=1)


def timed(tracer: Tracer, name: str, spark, fn, repeats: int = REPEATS) -> float:
    for _ in range(repeats):
        with tracer.span(name, spark):
            fn()
    return tracer.median(name)


def fixed_layer(tracer: Tracer, spark, tiny_pass, pass_s: float) -> dict:
    """The full pass over a tiny input: what a pass costs before rows count."""
    fixed = timed(tracer, "fixed.pass", spark, tiny_pass)
    return {"fixed.pass_s": fixed, "fixed.share": fixed / pass_s if pass_s else 0.0}


# ---------------------------------------------------------------------------
# JVM
# ---------------------------------------------------------------------------

class JvmCounters:
    """Cumulative JIT and GC milliseconds of the Spark JVM."""

    def __init__(self, spark):
        mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        self.jit_ms = float(mf.getCompilationMXBean().getTotalCompilationTime())
        self.gc_ms = float(sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()))
        self.pid = int(mf.getRuntimeMXBean().getPid())


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

def _log_events(path: str):
    """Events of one application's log: a file, or a rolling log's
    directory of event files in order."""
    files = sorted(os.path.join(path, f) for f in os.listdir(path) if f.startswith("events_")) \
        if os.path.isdir(path) else [path]
    for fp in files:
        with open(fp) as f:
            for line in f:
                yield json.loads(line)


def parse_event_log(log_dir: str) -> dict:
    """Per-stage task metrics from every event log in ``log_dir``, keyed by
    the job group (span) that ran the stage."""
    stage_group: dict[tuple, str] = {}
    stages: dict[tuple, dict] = {}
    for app in sorted(os.listdir(log_dir)):
        for ev in _log_events(os.path.join(log_dir, app)):
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
                for sid in ev.get("Stage IDs", []):
                    stage_group[(app, sid)] = group
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                st = stages.setdefault(
                    (app, ev["Stage ID"], ev.get("Stage Attempt ID", 0)),
                    {"run_ms": [], "shuffle_write": 0, "shuffle_read": 0, "spill": 0},
                )
                st["run_ms"].append(m.get("Executor Run Time", 0))
                sw = m.get("Shuffle Write Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                st["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
                st["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                st["spill"] += m.get("Disk Bytes Spilled", 0)
    by_group: dict[str, list[dict]] = {}
    for (app, sid, _attempt), st in stages.items():
        by_group.setdefault(stage_group.get((app, sid), ""), []).append(st)
    return by_group


def stage_metrics(by_group: dict, groups: list[str]) -> dict:
    """Spark metrics per pass, averaged over the passes run as ``groups``."""
    per_pass = []
    for g in groups:
        sts = by_group.get(g, [])
        if not sts:
            continue
        heavy = max(sts, key=lambda s: sum(s["run_ms"]))
        per_pass.append({
            "spark.tasks": sum(len(s["run_ms"]) for s in sts),
            "spark.task_s": sum(sum(s["run_ms"]) for s in sts) / 1e3,
            "spark.skew": max(heavy["run_ms"]) / max(1.0, statistics.median(heavy["run_ms"])),
            "spark.shuffle_write_mb": sum(s["shuffle_write"] for s in sts) / 2**20,
            "spark.shuffle_read_mb": sum(s["shuffle_read"] for s in sts) / 2**20,
            "spark.spill_mb": sum(s["spill"] for s in sts) / 2**20,
        })
    keys = ("spark.tasks", "spark.task_s", "spark.skew",
            "spark.shuffle_write_mb", "spark.shuffle_read_mb", "spark.spill_mb")
    return {k: statistics.median([p[k] for p in per_pass]) if per_pass else 0.0 for k in keys}


# ---------------------------------------------------------------------------
# tokens layers
# ---------------------------------------------------------------------------

def _identity_arrow(df):
    def same(batches):
        yield from batches

    return df.mapInArrow(same, df.schema)


def tokens_layers(spark, tracer: Tracer, in_dir: str, work_dir: str, seed: int, pass_s: float) -> dict:
    scan = timed(tracer, "tokens.scan", spark, lambda: W.sink(W.tokens_scan(spark, in_dir)))
    asof = timed(tracer, "tokens.scan_asof", spark, lambda: W.sink(W.tokens_asof(spark, in_dir)))
    arrow = timed(
        tracer, "tokens.scan_arrow", spark,
        lambda: W.sink(_identity_arrow(W.tokens_scan(spark, in_dir))),
    )
    out = {
        "scan_s": scan,
        "asof.broadcast_s": asof - scan,
        "features.extract_s": pass_s - asof,
        "arrow.roundtrip_s": arrow - scan,
    }
    out.update(kernel_layers(tracer, in_dir, seed))
    out.update(flagship_layer(spark, tracer, in_dir))
    out.update(scaling_layer(spark, tracer, in_dir, work_dir))
    return out


def _sample_docs(in_dir: str, seed: int) -> list[np.ndarray]:
    import pyarrow.parquet as pq

    tok = pq.read_table(os.path.join(in_dir, "tokens.parquet"), columns=["tokens"])["tokens"]
    tok = tok.combine_chunks()
    rng = np.random.default_rng([seed, 4])
    idx = np.sort(rng.choice(len(tok), size=min(KERNEL_SAMPLE, len(tok)), replace=False))
    off = tok.offsets.to_numpy()
    flat = tok.values.to_numpy()
    return [flat[off[i]:off[i + 1]] for i in idx]


def kernel_stages(docs, tracer: Tracer) -> None:
    """Run the public kernel stages over the sample's cube batches, grouped
    and chunked as ``batch_feature_vectors`` groups them, one span each."""
    from image_feature_extraction_spark.functions import kernels as K

    edges = K.default_edges()
    by_side: dict[int, list[np.ndarray]] = {}
    for t in docs:
        by_side.setdefault(K.cube_side(len(t)), []).append(t)
    for s, group in by_side.items():
        chunk = max(1, K.CHUNK_CELLS // (s * s * s))
        for c0 in range(0, len(group), chunk):
            cubes = [K.pad_to_cube(t, s) for t in group[c0:c0 + chunk]]
            img = np.stack([c[0] for c in cubes])
            cert = np.stack([c[1] for c in cubes])
            fg = cert.reshape(len(cubes), -1) != 0
            for si, sigma in enumerate(W.SCALES):
                with tracer.span("kernels.smooth"):
                    sm = K.normalized_convolution(img, cert, sigma)
                with tracer.span("kernels.deriv"):
                    dx = K.derivative(sm, 0, 1)
                    dy = K.derivative(sm, 1, 1)
                    dz = K.derivative(sm, 2, 1)
                    hess = [K.derivative(sm, 0, 2), K.derivative(dx, 1, 1),
                            K.derivative(dx, 2, 1), K.derivative(sm, 1, 2),
                            K.derivative(dy, 2, 1), K.derivative(sm, 2, 2)]
                gm = np.sqrt(dx * dx + dy * dy + dz * dz)
                sel_h = np.stack([h.reshape(len(cubes), -1)[fg] for h in hess], axis=-1)
                with tracer.span("kernels.eig"):
                    ev = K.eig3x3(sel_h)
                e0, e1, e2 = ev[..., 0], ev[..., 1], ev[..., 2]
                cols = [sm.reshape(len(cubes), -1)[fg], gm.reshape(len(cubes), -1)[fg],
                        e0, e1, e2, e0 + e1 + e2, e0 * e1 * e2,
                        np.sqrt(e0 * e0 + e1 * e1 + e2 * e2)]
                with tracer.span("kernels.bin"):
                    for fi, col in enumerate(cols):
                        K.histogram_counts(col, edges[fi])


def kernel_layers(tracer: Tracer, in_dir: str, seed: int) -> dict:
    from image_feature_extraction_spark.functions import kernels as K

    docs = _sample_docs(in_dir, seed)
    n_tok = sum(len(t) for t in docs)
    K.batch_feature_vectors(docs[:8], W.SCALES)  # first-call caches
    stage = {k: [] for k in ("smooth", "deriv", "eig", "bin")}
    for _ in range(REPEATS + 1):
        with tracer.span("kernels.batch"):
            K.batch_feature_vectors(docs, W.SCALES)
        with tracer.span("kernels.stages") as parent:
            kernel_stages(docs, tracer)
        for k in stage:
            stage[k].append(tracer.child_total(parent["id"], f"kernels.{k}"))
    b = tracer.median("kernels.batch")
    out = {f"kernels.{k}_s": statistics.median(v) for k, v in stage.items()}
    out["kernels.pack_s"] = b - sum(out.values())
    out["kernels.docs_per_s"] = len(docs) / b
    out["kernels.mtok_per_s"] = n_tok / b / 1e6
    return out


def flagship_layer(spark, tracer: Tracer, in_dir: str) -> dict:
    import pyarrow.parquet as pq

    from image_feature_extraction_spark.plans.flagship import flagship_pipeline

    n_docs = pq.ParquetFile(os.path.join(in_dir, "tokens.parquet")).metadata.num_rows

    def run():
        W.sink(flagship_pipeline(spark, n_docs))

    run()  # warm the fused stage's own code path
    return {"flagship.docs_per_s": n_docs / timed(tracer, "tokens.flagship", spark, run)}


def write_subset(in_dir: str, out_dir: str) -> int:
    """The first 1/SCALING_FRACTION of the docs, with the stats table. The
    docs go into one file per core, so the scan splits into that many
    tasks whatever the subset's size."""
    import pyarrow.parquet as pq

    docs = pq.read_table(os.path.join(in_dir, "tokens.parquet"))
    sub = docs.slice(0, max(1, docs.num_rows // SCALING_FRACTION))
    part_dir = os.path.join(out_dir, "tokens.parquet")
    os.makedirs(part_dir, exist_ok=True)
    n = os.cpu_count()
    step = -(-sub.num_rows // n)
    for k in range(0, sub.num_rows, step):
        pq.write_table(sub.slice(k, step), os.path.join(part_dir, f"part-{k:09d}.parquet"))
    pq.write_table(
        pq.read_table(os.path.join(in_dir, "stats.parquet")),
        os.path.join(out_dir, "stats.parquet"),
    )
    return sub.num_rows


def scaling_layer(spark, tracer: Tracer, in_dir: str, work_dir: str) -> dict:
    sub_dir = os.path.join(work_dir, "scaling_input")
    n_docs = write_subset(in_dir, sub_dir)
    W.tokens_pass(spark, sub_dir)
    wide = timed(tracer, "tokens.scaling_local_n", spark, lambda: W.tokens_pass(spark, sub_dir))
    with tracer.span("tokens.scaling_local_1"):
        res = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "scaling", sub_dir, work_dir],
            check=True, capture_output=True, text=True, timeout=150,
        )
    narrow = json.loads(res.stdout.strip().splitlines()[-1])["pass_s"]
    n = os.cpu_count()
    return {"scaling.eff": (n_docs / wide) / (n * n_docs / narrow)}


def _scaling_probe(sub_dir: str, work_dir: str) -> None:
    """Child-process body: the tokens pass at local[1] in its own JVM."""
    import host

    spark = host.spark_session(os.path.join(work_dir, "scaling"), master="local[1]")
    try:
        W.tokens_pass(spark, sub_dir)
        times = []
        for _ in range(REPEATS):
            t0 = time.perf_counter()
            W.tokens_pass(spark, sub_dir)
            times.append(time.perf_counter() - t0)
    finally:
        host.stop_spark(spark)
    print(json.dumps({"pass_s": statistics.median(times)}))


# ---------------------------------------------------------------------------
# event_windows layers
# ---------------------------------------------------------------------------

def _operator_calls(spark, in_dir: str) -> dict:
    """The ``operators`` calls behind each registered query, made directly on
    the same input, without the query's final projection and sort."""
    from pyspark.sql import functions as F

    from image_feature_extraction_spark.operators.asof import asof_join
    from image_feature_extraction_spark.operators.windows import backfill, lag_lead, session_stats

    def events():
        return spark.read.parquet(os.path.join(in_dir, "events.parquet"))

    def op_lag_lead():
        ev = events().select("user_id", "ts", "event_id", "value")
        return lag_lead(ev, by="user_id", order=["ts", "event_id"], value="value")

    def op_backfill():
        ev = events().select(
            "user_id", "ts", "event_id",
            F.when(F.col("event_type") != "error", F.col("value")).alias("v"),
        )
        return backfill(ev, by="user_id", order=["ts", "event_id"], cols="v")

    def op_session_stats():
        return session_stats(events(), by="user_id", ts="ts", gap=1800.0)

    def op_asof_join():
        ev = events()
        clicks = ev.where(F.col("event_type") == "click").select(
            "user_id", "ts", "event_id", F.col("value").alias("click_value"))
        purchases = (
            ev.where(F.col("event_type") == "purchase")
            .groupBy("user_id", "ts").agg(F.max("value").alias("purchase_value"))
        )
        return asof_join(clicks, purchases, on="ts", by="user_id", bucket_width=86400.0)

    return {
        "q_lag_lead": ("lag_lead", op_lag_lead),
        "q_backfill": ("backfill", op_backfill),
        "q_sessionize": ("session_stats", op_session_stats),
        "q_asof_join": ("asof_join", op_asof_join),
    }


def events_layers(spark, tracer: Tracer, in_dir: str) -> dict:
    out = {"scan_s": timed(
        tracer, "events.scan", spark,
        lambda: W.sink(spark.read.parquet(os.path.join(in_dir, "events.parquet"))),
    )}
    queries = W.event_queries()
    for q, (op, build) in _operator_calls(spark, in_dir).items():
        qs = timed(tracer, f"events.query.{q}", spark, lambda: W.sink(queries[q](spark, in_dir)))
        os_ = timed(tracer, f"events.operator.{op}", spark, lambda: W.sink(build()))
        out[f"query_s.{q}"] = qs
        out[f"operator_s.{op}"] = os_
        out[f"query_overhead_s.{q}"] = qs - os_
    return out


if __name__ == "__main__" and sys.argv[1:2] == ["scaling"]:
    _scaling_probe(sys.argv[2], sys.argv[3])
