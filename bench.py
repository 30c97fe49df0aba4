"""Benchmark harness — the driver's per-round performance feedback loop.

Runs the headline workload (as-of join + feature extraction over the
deterministic token table, BASELINE.json's primary metric) plus every
relational query from ``__spark_entry__.queries()`` at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]``. The full record — every query's best time
and rep list, the flagship shots, errors — goes to ``BENCH_LOCAL_latest.json``
next to this file; the last stdout line is a headline of at most 1 KB:

    {"metric": "bench_suite_seconds", "value": <total sec>, "unit": "sec",
     "sequences_per_sec": ..., "sequences_per_sec_best": ...,
     "queries": <count>, "failed_queries": <count>, "methodology": 4,
     "cores": ..., "sf": ..., "record": "BENCH_LOCAL_latest.json"}

Timing methodology (v4, tagged in the output JSON): each query is
materialized with a noop-format write (full execution, no driver
collect) after an untimed warm-up, best of 2-5 escalating reps; the
flagship throughput is the MEDIAN of 5 shots interleaved across the
suite run (all shots persisted in extras — the host's minutes-scale
drift band makes any single-instant number unreliable). Scaling
evidence lives in ``python bench.py --scaling [docs]`` → BENCH/BASELINE.md
(separate JVMs per parallelism level — a JVM's master is fixed at
session creation).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from image_feature_extraction_spark.plans.flagship import (  # noqa: E402
    SCALES,
    flagship_pipeline,
    flagship_stats,
)

# Flagship workload size: ~0.6 ms/doc single-core for 2 scales, ~21k
# docs/s at local[32] — 48k docs ≈ 2-3 s steady-state, enough to amortize
# scheduling while keeping the per-round bench fast.
FLAGSHIP_DOCS = int(os.environ.get("BENCH_FLAGSHIP_DOCS", "48000"))
RECORD_FILE = "BENCH_LOCAL_latest.json"


def _materialize(df) -> int:
    """Full execution without driver transfer."""
    df.write.format("noop").mode("overwrite").save()
    return 0


def headline(record: dict) -> str:
    """The full record's one-line summary, printed last. Its size does not
    grow with the suite, so it fits a 2 KB log tail; the full record on one
    line is ~2.5 KB at 84 queries."""
    extras = record["extras"]
    return json.dumps({
        "metric": record["metric"],
        "value": record["value"],
        "unit": record["unit"],
        "sequences_per_sec": extras.get("sequences_per_sec"),
        "sequences_per_sec_best": extras.get("sequences_per_sec_best"),
        "queries": len(record["queries"]),
        "failed_queries": sum(v < 0 for v in record["queries"].values()),
        "methodology": record["methodology"]["version"],
        "cores": record["cores"],
        "sf": record["sf"],
        "record": RECORD_FILE,
    })


def _scaling_worker(cpus: int, n_docs: int) -> None:
    """Run ONLY the flagship pipeline at a fixed parallelism and print a
    JSON timing line. Invoked in a fresh process per level (a JVM's master
    is fixed at session creation)."""
    from image_feature_extraction_spark.session import get_spark

    spark = get_spark(app_name=f"bench-scaling-{cpus}", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    # Steady-state methodology: a 100 TB job runs for hours, so sustained
    # throughput is the honest metric. The stats input table is prepared
    # once (it pre-exists in production); one untimed warm-up pass (JVM
    # JIT, python-worker fleet spawn + imports, Arrow codepaths); then best
    # of two timed runs of the identical job.
    stats = flagship_stats(spark, n_docs)
    _materialize(flagship_pipeline(spark, max(n_docs // 4, 1000), stats=stats))
    best = float("inf")
    for _ in range(2):
        t0 = time.time()
        _materialize(flagship_pipeline(spark, n_docs, stats=stats))
        best = min(best, time.time() - t0)
    print(json.dumps({"cpus": cpus, "docs": n_docs, "sec": round(best, 3),
                      "seqs_per_sec": round(n_docs / best, 1)}))
    spark.stop()


def _scaling(
    n_docs: int = 48_000, levels=(1, os.cpu_count()), publish: bool = False
) -> None:
    """Multi-parallelism scaling evidence (sandbox proxy for the N vs 4N
    executor criterion, BASELINE.json): the same job + input at local[N]
    levels in separate JVMs; efficiency between consecutive levels =
    (T_low / T_high) / (high/low).

    Writes BENCH/scaling_<levels>.md; the hand-curated BENCH/BASELINE.md
    (headline numbers + drift analysis) is only overwritten with
    publish=True (CLI: --scaling-publish), never by a default re-run."""
    import subprocess

    # Interleave the levels (A,B,A,B) and take the per-level best: the host
    # VM shows minutes-scale throughput drift (noisy neighbors), and
    # interleaving exposes both levels to the same drift instead of blaming
    # it on one.
    best: dict[int, dict] = {}
    for _round in range(2):
        for cpus in levels:
            out = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--scaling-worker",
                 str(cpus), str(n_docs)],
                capture_output=True, text=True, check=True,
                cwd=os.path.dirname(os.path.abspath(__file__)),
            )
            line = [ln for ln in out.stdout.strip().splitlines() if ln.startswith("{")][-1]
            r = json.loads(line)
            print(line)
            if cpus not in best or r["sec"] < best[cpus]["sec"]:
                best[cpus] = r
    results = [best[c] for c in levels]
    effs = []
    for lo, hi in zip(results, results[1:]):
        ratio = hi["cpus"] / lo["cpus"]
        effs.append(
            (lo["cpus"], hi["cpus"], ratio, (lo["sec"] / hi["sec"]) / ratio)
        )
    os.makedirs("BENCH", exist_ok=True)
    out_path = (
        "BENCH/BASELINE.md"
        if publish
        else "BENCH/scaling_" + "_".join(str(c) for c in levels) + ".md"
    )
    with open(out_path, "w") as f:
        f.write(
            "# BENCH — measured numbers\n\n"
            "Flagship workload: broadcast as-of join + 8-feature x 2-scale\n"
            f"histogram feature extraction over the deterministic token table\n"
            f"({n_docs} sequences, identical input at every level; steady state —\n"
            "JIT/worker warm-up pass untimed, best of two timed runs; stats input\n"
            "table prepared once). Sandbox proxy for the N-vs-4N-executor\n"
            "criterion: the same job at local[N] parallelism levels in separate\n"
            f"JVMs on a {os.cpu_count()}-core host.\n\n"
            "| parallelism | wall sec | sequences/sec |\n|---|---|---|\n"
            + "".join(
                f"| local[{r['cpus']}] | {r['sec']} | {r['seqs_per_sec']} |\n"
                for r in results
            )
            + "\n| scale-up | speedup | efficiency (target >= 0.8) |\n|---|---|---|\n"
            + "".join(
                f"| local[{lo}] -> local[{hi}] ({ratio:.0f}x cores) | "
                f"{eff * ratio:.2f}x | **{eff:.3f}** |\n"
                for lo, hi, ratio, eff in effs
            )
            + "\nAll levels share one box's DRAM bandwidth, which the numpy\n"
            "kernel is bound by at high core counts; on a multi-node cluster\n"
            "each executor node brings its own memory bus, so this single-box\n"
            "efficiency is a lower bound for N -> 4N executors.\n"
        )
    print(json.dumps({
        "efficiencies": [
            {"from": lo, "to": hi, "efficiency": round(eff, 3)}
            for lo, hi, _r, eff in effs
        ],
        "levels": results,
    }))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count())
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or "0.1")

    from image_feature_extraction_spark.session import get_spark

    spark = get_spark(app_name="bench", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod

    # Warm-up: JVM/codegen path AND the Python-worker fleet — each worker
    # imports the kernel module here so the first timed Arrow stage does
    # not pay the numpy import. Not counted.
    _materialize(spark.read.parquet(f"{sf_dir}/lineitem.parquet").limit(1000))

    def _warm(it):
        from image_feature_extraction_spark.functions import kernels  # noqa: F401

        yield from it

    spark.range(0, int(cpus), 1, int(cpus)).mapInPandas(
        _warm, "id long"
    ).write.format("noop").mode("overwrite").save()
    _materialize(flagship_pipeline(spark, 2000))

    timings: dict[str, float] = {}
    reps_by_query: dict[str, list[float]] = {}
    extras: dict[str, float] = {}

    # stats prepared once OUTSIDE the timer (it pre-exists in production;
    # _scaling_worker uses the same protocol) so the headline measures the
    # join+kernel pipeline, not driver-side stats synthesis
    stats = flagship_stats(spark, FLAGSHIP_DOCS)
    flag_shots: list[float] = []

    def _flagship_shot() -> None:
        # a transient flagship failure must not kill the bench and
        # discard every collected timing (same rule as the query loop);
        # the remaining shots still yield a median
        try:
            t0 = time.time()
            _materialize(flagship_pipeline(spark, FLAGSHIP_DOCS, stats=stats))
            flag_shots.append(time.time() - t0)
        except Exception as e:
            extras.setdefault("flagship_shot_errors", []).append(
                f"{type(e).__name__}: {e}"[:200]
            )

    # Headline protocol (drift-proof): the host shows minutes-scale
    # throughput drift (documented 20-29.5k seqs/s day band; BENCH_r04's
    # driver artifact read 22.1k where the identical code measured 26.2k
    # locally). A best-of-2 at one instant samples ONE point of that
    # band; instead take 2 shots now and 3 more INTERLEAVED through the
    # query suite (below), so the shots span the full bench window, and
    # report the MEDIAN with every shot persisted in extras.
    _flagship_shot()
    _flagship_shot()

    skip = {
        "q_flagship_features",  # superseded by the timed flagship above
        "q_equalized_edges",    # synth-table demo
        "q_checkpoint_ledger",  # contract demo (tempdir write/resume)
        "q_flagship_parity",    # contract demo (runs the flagship twice)
    }
    # Steady state per query: one UNTIMED warm-up execution (plan +
    # codegen compile + python-worker setup), then timed reps that
    # ESCALATE while the times are still descending. Best-of-2 alone
    # demonstrably does not absorb the ~20 s C2-JIT window on the large
    # generated md5-chain aggregates (BENCH_r03: q_dedup_minhash 8.5 s
    # vs 1.2 s isolated), and in a full-suite run even warm-up + 2 reps
    # can land inside it — C2 compiler threads are shared across the
    # suite's queries, so the window stretches (measured this round:
    # 5.6 s in-suite vs 10, 2.0, 2.4 s isolated). A rep that runs <70%
    # of the previous best means one-time costs were still releasing —
    # keep going (cap 5 reps); the stable majority still pays exactly
    # warm-up + 2.
    qitems = [(n, f) for n, f in entrymod.queries().items() if n not in skip]
    # flagship shots 3-5 fire after these suite positions (quartiles), so
    # the 5 shots sample host drift across the whole bench run
    shot_after = {
        len(qitems) // 4,
        len(qitems) // 2,
        (3 * len(qitems)) // 4,
    }
    for qi, (name, fn) in enumerate(qitems):
        if qi in shot_after:
            _flagship_shot()
        try:
            _materialize(fn(spark, sf_dir))  # warm-up, not counted
            reps = []
            for _ in range(5):
                t0 = time.time()
                _materialize(fn(spark, sf_dir))
                reps.append(time.time() - t0)
                if len(reps) >= 2 and reps[-1] > 0.7 * min(reps[:-1]):
                    break  # plateau: last rep no longer materially faster
            timings[name] = round(min(reps), 3)
            reps_by_query[name] = [round(r, 3) for r in reps]
        except Exception as e:  # a failing query must not kill the bench
            timings[name] = -1.0
            extras[f"error_{name}"] = f"{type(e).__name__}: {e}"[:200]

    if flag_shots:
        import statistics

        flag_med = statistics.median(flag_shots)
        timings["q_flagship_asof_features"] = round(flag_med, 3)
        extras["sequences_per_sec"] = round(FLAGSHIP_DOCS / flag_med, 1)
        extras["sequences_per_sec_best"] = round(
            FLAGSHIP_DOCS / min(flag_shots), 1
        )
    else:
        # every shot failed: keep the suite's failure-marking convention
        # for the headline key instead of silently dropping it (a diff
        # keyed on the name must read "failed", not "removed")
        timings["q_flagship_asof_features"] = -1.0
    extras["flagship_docs"] = FLAGSHIP_DOCS
    extras["flagship_shots_sec"] = [round(s, 3) for s in flag_shots]

    total = round(sum(v for v in timings.values() if v > 0), 3)
    record = {
        "metric": "bench_suite_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "reps": reps_by_query,
        "sf": sf,
        "cores": int(cpus),
        "extras": extras,
        # ADVICE r4: tag the methodology so BENCH_*.json diffs can
        # detect incomparable runs. v1 = cold best-of-2 (<= r3);
        # v2 = untimed warm-up + rep escalation (r4); v3 = v2 +
        # flagship median of 5 suite-interleaved shots (r5);
        # v4 = v3, but the queries no longer end in a display
        # sort, so per-query times are not comparable with v3.
        "methodology": {
            "version": 4,
            "queries": "untimed warm-up + best of 2-5 escalating reps",
            # actual shot count, not an aspirational label: a
            # filtered/partial registry yields fewer interleave
            # positions, and a shot can fail
            "flagship": (
                f"median of {len(flag_shots)} shots "
                "interleaved across the suite"
            ),
        },
    }
    record_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), RECORD_FILE)
    with open(record_path, "w") as f:
        json.dump(record, f, indent=1)
    print(headline(record))
    spark.stop()


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "--scaling-worker":
        _scaling_worker(int(sys.argv[2]), int(sys.argv[3]))
    elif len(sys.argv) > 1 and sys.argv[1] in ("--scaling", "--scaling-publish"):
        _scaling(
            int(sys.argv[2]) if len(sys.argv) > 2 else 48_000,
            publish=sys.argv[1] == "--scaling-publish",
        )
    else:
        main()
