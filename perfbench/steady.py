"""Steadiness check for the benchmark: two sets of runs, interleaved.

    python3 perfbench/steady.py --runs 10 [--traced 1]

Run from the repository root. It runs every workload of BENCHMARK.json in
two sets, A with seeds 101.. and B with seeds 201..; the runs alternate A
and B (and which goes first) and alternate workloads,
so host drift lands on both sets alike instead of on one block. For each
workload and end-to-end metric it reports each set's median and quartile
spread ((q3 - q1) / median, from ``statistics.quantiles(n=4)``), and how
far B's median is from A's. Every run's host calibration and steal are
listed with it, so drift can be read off the table. With ``--traced N``,
N traced runs per workload follow, and their ``trace.rows_per_s`` is set
against the latest untraced runs as the tracing overhead.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def bench_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def one_run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.time()
    res = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    wall = time.time() - t0
    if res.returncode != 0:
        sys.stderr.write(res.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed}: exit {res.returncode}")
    result = json.loads(res.stdout.strip().splitlines()[-1])
    recs = sorted(
        glob.glob(os.path.join(ROOT, ".perfbench", "records",
                               f"{workload}-seed{seed}-trace{trace}-*.json")),
        key=os.path.getmtime,
    )
    with open(recs[-1]) as f:
        rec = json.load(f)
    return {"workload": workload, "seed": seed, "wall_s": wall, "result": result,
            "calib_s": rec["calib_s"], "steal": rec["host.steal_frac"]}


def spread(values: list[float]) -> tuple[float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med


def main() -> int:
    spec = bench_spec()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--traced", type=int, default=0)
    a = ap.parse_args()

    workloads = [w["name"] for w in spec["workloads"]]
    base = {"A": 100, "B": 200}
    runs: list[dict] = []
    for i in range(a.runs):
        order = "AB" if i % 2 == 0 else "BA"
        wls = workloads if i % 2 == 0 else workloads[::-1]
        for s in order:
            for wl in wls:
                r = one_run(wl, base[s] + 1 + i, spec["run_seconds"], 0)
                r["set"] = s
                runs.append(r)
                m = {k: round(v["value"], 4) for k, v in r["result"]["metrics"].items()}
                print(f"{s} {wl:14s} seed={r['seed']} wall={r['wall_s']:.1f}s "
                      f"calib={[round(c, 4) for c in r['calib_s']]} steal={r['steal']:.4f} "
                      f"correct={r['result']['correct']} {m}", flush=True)

    print("\n| workload | metric | bound | set | median | spread | B vs A |")
    print("|---|---|---|---|---|---|---|")
    bounds = {m["name"]: (m["bound"], m["better"]) for m in spec["end_to_end"]}
    for wl in workloads:
        for name, (bound, better) in bounds.items():
            med = {}
            for s in "AB":
                vals = [r["result"]["metrics"][name]["value"] for r in runs
                        if r["workload"] == wl and r["set"] == s]
                if len(vals) < 2:
                    continue
                med[s], sp = spread(vals)
                shift = ""
                if s == "B":
                    worse = (med["B"] - med["A"]) / med["A"]
                    shift = f"{(worse if better == 'lower' else -worse):+.2%} worse"
                print(f"| {wl} | {name} | {bound} | {s} | {med[s]:.4g} | {sp:.2%} | {shift} |")

    for wl in workloads:
        for k in range(a.traced):
            t = one_run(wl, 301 + k, spec["run_seconds"], 1)
            # the latest untraced runs of the workload, nearest in time, so
            # host drift over the campaign does not pose as overhead
            untraced = statistics.median(
                r["result"]["metrics"]["rows_per_s"]["value"]
                for r in [r for r in runs if r["workload"] == wl][-4:])
            traced = t["result"]["metrics"]["trace.rows_per_s"]["value"]
            print(f"\ntracing overhead {wl} seed={t['seed']}: traced {traced:.4g} rows/s "
                  f"vs median of the last 4 untraced {untraced:.4g} "
                  f"({1 - traced / untraced:+.2%}), wall {t['wall_s']:.1f}s")
    total = sum(r["wall_s"] for r in runs)
    print(f"\n{len(runs)} untraced runs, {total:.0f}s wall, {total / max(1, len(runs)):.1f}s per run")
    return 0


if __name__ == "__main__":
    sys.exit(main())
