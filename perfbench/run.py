"""Benchmark of the token feature engine: two workloads, end-to-end metrics
from an untraced run, per-layer metrics from a traced one.

    python3 perfbench/run.py --workload tokens|event_windows --seed N \
        --seconds S --trace 0|1

Run from the repository root. Each run generates its inputs from ``--seed``
into a work directory under ``.perfbench/``, sets up the Spark session (a
fresh JVM, followed by a warm-up pass over a tiny input of the same
generator), runs one untimed full-size pass that writes
parquet, runs timed passes for ``--seconds`` (at least two), checks the
parquet output, and prints one JSON object as its last line of standard
output. The full record of the run goes to ``.perfbench/records/``; a
traced run also writes its spans to ``.perfbench/trace/``.

End-to-end metrics (``--trace 0``):

- ``setup_s``: from process start through the JVM launch, session creation
  and the warm-up pass over the tiny input to ``noop``, less the input
  generation and the host calibration.
- ``rows_per_s``: input rows divided by the median timed pass.
- ``worker_rss_mb``: on ``tokens``, the largest peak RSS among Spark's
  Python worker processes (``pyspark.daemon`` and the workers it forks),
  read after the timed passes. ``event_windows`` starts no worker, so there
  it reads the main Python process. The run record keeps both readings.

Every timed pass is one operation. A pass fails if it raises; if the output
check finds a mismatch, every pass counts as failed, because each ran the
same plan on the same input.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

# One thread per process for numpy: parallelism comes from Spark tasks, and
# the in-process kernel measurement is single-threaded by definition.
os.environ["OMP_NUM_THREADS"] = "1"
os.environ["OPENBLAS_NUM_THREADS"] = "1"

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
SIZES = {"tokens": 10_000, "event_windows": 150_000}
# a tiny input of the same generator: the set-up's warm-up pass runs over
# it, and the traced run times it as the pass's fixed cost
TINY_SIZES = {"tokens": 40, "event_windows": 1_000}
TABLE = {"tokens": "tokens", "event_windows": "events"}
MIN_PASSES = 2


def process_age() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return max(0.0, uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def metric_units(kind: str) -> dict:
    """Metric name -> unit, for ``end_to_end`` or ``per_layer``, from
    BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", type=int, default=None,
                    help="input rows (docs or events); default per workload")
    return ap.parse_args(argv)


def check_program() -> None:
    missing = [p for p in ("image_feature_extraction_spark", "__spark_entry__.py")
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        sys.exit(f"perfbench: program not found next to the benchmark: {missing}")


def prepare_env(work_dir: str) -> None:
    """Keep every scratch file inside the work directory, and let Python
    workers import both the engine and the benchmark's modules."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, BENCH_DIR])
    for p in (BENCH_DIR, ROOT):
        if p not in sys.path:
            sys.path.insert(0, p)


class Run:
    """One benchmark run; ``execute`` returns the result object."""

    def __init__(self, args, t_start: float):
        self.args = args
        self.t_start = t_start
        self.size = args.size or SIZES[args.workload]
        self.work_dir = os.path.join(
            ROOT, ".perfbench", f"work-{args.workload}-{args.seed}-{os.getpid()}")
        self.in_dir = os.path.join(self.work_dir, "input")
        self.tiny_dir = os.path.join(self.work_dir, "tiny_input")
        self.out_dir = os.path.join(self.work_dir, "output")
        self.log_dir = os.path.join(self.work_dir, "eventlog") if args.trace else None
        self.record: dict = {"workload": args.workload, "seed": args.seed,
                             "size": self.size, "trace": args.trace}
        self.excluded_s = 0.0  # generation and calibration, kept out of setup_s

    # -- pieces ------------------------------------------------------------

    def generate(self, in_dir: str, size: int) -> None:
        subprocess.run(
            [sys.executable, os.path.join(BENCH_DIR, "gen.py"), TABLE[self.args.workload],
             in_dir, "--seed", str(self.args.seed), "--size", str(size)],
            check=True, timeout=170,
        )

    def one_pass(self, spark, in_dir: str | None = None, out_dir: str | None = None) -> None:
        import workloads as W

        if self.args.workload == "tokens":
            W.tokens_pass(spark, in_dir or self.in_dir, out_dir)
        else:
            W.events_pass(spark, in_dir or self.in_dir, out_dir)

    def setup(self):
        """A fresh JVM and session, warmed up over the tiny input."""
        import host

        spark = host.spark_session(self.work_dir, event_log=self.log_dir)
        self.one_pass(spark, self.tiny_dir)
        self.record["setup_s"] = time.perf_counter() - self.t_start - self.excluded_s
        return spark

    def timed_passes(self, spark, tracer) -> tuple[list[float], int]:
        times, failed = [], 0
        t_end = time.perf_counter() + self.args.seconds
        while len(times) + failed < MIN_PASSES or time.perf_counter() < t_end:
            t0 = time.perf_counter()
            try:
                with tracer.span(f"{self.args.workload}.pass", spark):
                    self.one_pass(spark)
            except Exception:
                traceback.print_exc()
                failed += 1
                continue
            times.append(time.perf_counter() - t0)
        return times, failed

    def verify(self) -> list[str]:
        import workloads as W

        try:
            if self.args.workload == "tokens":
                return W.check_tokens(self.in_dir, self.out_dir, self.args.seed)
            return W.check_events(self.in_dir, self.out_dir)
        except Exception as e:
            traceback.print_exc()
            return [f"output check raised {type(e).__name__}: {e}"]

    # -- the run -----------------------------------------------------------

    def execute(self) -> dict:
        os.makedirs(self.work_dir, exist_ok=True)
        try:
            return self._execute()
        finally:
            shutil.rmtree(self.work_dir, ignore_errors=True)

    def _execute(self) -> dict:
        import host
        import layers as T

        wl, rec = self.args.workload, self.record
        cpu0 = host.CpuSample()
        t0 = time.perf_counter()
        calib = [host.calibrate()]
        self.generate(self.in_dir, self.size)
        self.generate(self.tiny_dir, TINY_SIZES[wl])
        rec["generate_s"] = time.perf_counter() - t0 - calib[0]
        self.excluded_s += time.perf_counter() - t0

        tracer = T.Tracer(enabled=bool(self.args.trace))
        spark = self.setup()
        try:
            # untimed: the first full-size pass, whose output is checked
            try:
                self.one_pass(spark, out_dir=self.out_dir)
                write_problem = []
            except Exception as e:
                traceback.print_exc()
                write_problem = [f"output write raised {type(e).__name__}: {e}"]
            jvm0 = T.JvmCounters(spark)
            times, raised = self.timed_passes(spark, tracer)
            jvm1 = T.JvmCounters(spark)
            rec["daemon_rss_mb"] = host.daemon_rss_mb()
            rec["driver_rss_mb"] = host.peak_rss_mb(os.getpid())
            rec["jvm_rss_mb"] = host.peak_rss_mb(jvm1.pid)
            rec["pass_s"] = times
            n = max(1, len(times) + raised)
            layer_metrics = {}
            if self.args.trace:
                pass_s = statistics.median(times) if times else 0.0
                if wl == "tokens":
                    layer_metrics = T.tokens_layers(
                        spark, tracer, self.in_dir, self.work_dir, self.args.seed, pass_s)
                else:
                    layer_metrics = T.events_layers(spark, tracer, self.in_dir)
                layer_metrics.update(T.fixed_layer(
                    tracer, spark, lambda: self.one_pass(spark, self.tiny_dir), pass_s))
        finally:
            host.stop_spark(spark)
        rec["problems"] = write_problem or self.verify()
        calib.append(host.calibrate())
        rec["calib_s"] = calib
        rec.update(host.CpuSample().since(cpu0))

        failed = raised + (len(times) if rec["problems"] else 0)
        result = {
            "correct": not rec["problems"] and failed == 0,
            "attempted": len(times) + raised,
            "failed": failed,
        }
        # no successful pass reads as zero throughput
        median_pass = statistics.median(times) if times else float("inf")
        units = metric_units("per_layer" if self.args.trace else "end_to_end")
        if self.args.trace:
            metrics = dict.fromkeys(units, 0.0)
            metrics.update(layer_metrics)
            metrics["trace.rows_per_s"] = self.size / median_pass
            metrics["jvm.jit_ms"] = (jvm1.jit_ms - jvm0.jit_ms) / n
            metrics["jvm.gc_ms"] = (jvm1.gc_ms - jvm0.gc_ms) / n
            metrics["jvm_rss_mb"] = rec["jvm_rss_mb"]
            metrics["host.calib_s"] = statistics.mean(calib)
            metrics["host.steal_frac"] = rec["host.steal_frac"]
            metrics["host.cpu_util"] = rec["host.cpu_util"]
            groups = [f"span-{s['id']}" for s in tracer.spans if s["name"] == f"{wl}.pass"]
            metrics.update(T.stage_metrics(T.parse_event_log(self.log_dir), groups))
            tracer.write(os.path.join(ROOT, ".perfbench", "trace",
                                      f"{wl}-seed{self.args.seed}.json"),
                         {"record": rec, "metrics": metrics})
        else:
            metrics = {
                "setup_s": rec["setup_s"],
                "rows_per_s": self.size / median_pass,
                "worker_rss_mb": rec["daemon_rss_mb" if wl == "tokens" else "driver_rss_mb"],
            }
        if set(metrics) != set(units):
            raise RuntimeError(f"metrics differ from BENCHMARK.json: {set(metrics) ^ set(units)}")
        result["metrics"] = {k: {"value": metrics[k], "unit": u} for k, u in units.items()}
        rec["result"] = result
        rec_dir = os.path.join(ROOT, ".perfbench", "records")
        os.makedirs(rec_dir, exist_ok=True)
        with open(os.path.join(rec_dir, f"{wl}-seed{self.args.seed}-trace{self.args.trace}"
                               f"-{int(time.time())}.json"), "w") as f:
            json.dump(rec, f, indent=1)
        return result


def main(argv=None) -> int:
    t_start = time.perf_counter() - process_age()
    args = parse_args(argv)
    check_program()
    run = Run(args, t_start)
    prepare_env(run.work_dir)
    result = run.execute()
    rec = run.record
    print(f"perfbench: {args.workload} seed={args.seed} passes={rec['pass_s']} "
          f"setup_s={rec['setup_s']:.3f} calib_s={rec['calib_s']} "
          f"steal={rec['host.steal_frac']:.4f} problems={rec['problems']}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
