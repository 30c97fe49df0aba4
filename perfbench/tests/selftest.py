"""Self-tests of the benchmark: a tiny run of each workload with its output
check on, a corrupted output counted as failed, and a refusal to run
without the program.

    python3 -m pytest perfbench/tests/selftest.py -q

The file name keeps it out of pytest's default discovery, so a plain
``pytest`` from the repository root does not start these Spark runs; naming
the file runs them. Running this file as a script runs one benchmark with a
corrupted output: ``python3 perfbench/tests/selftest.py tokens|event_windows``.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
TINY = {"tokens": 300, "event_windows": 5000}
SEED = 7


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _cli(workload: str, trace: int = 0) -> list[str]:
    return ["--workload", workload, "--seed", str(SEED), "--seconds", "1",
            "--trace", str(trace), "--size", str(TINY[workload])]


def _run(args: list[str], cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, *args], cwd=cwd, capture_output=True,
                          text=True, timeout=600)


def _result(res: subprocess.CompletedProcess) -> dict:
    assert res.returncode == 0, res.stderr[-4000:]
    return json.loads(res.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(TINY))
def test_tiny_run_checks_output_and_reports_every_metric(workload, trace):
    out = _result(_run([os.path.join(BENCH, "run.py"), *_cli(workload, trace)]))
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True
    assert out["failed"] == 0 and out["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in _spec()["per_layer" if trace else "end_to_end"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    assert all(isinstance(v["value"], (int, float)) for v in out["metrics"].values())


@pytest.mark.parametrize("workload", sorted(TINY))
def test_corrupted_output_counts_as_failed(workload):
    out = _result(_run([os.path.abspath(__file__), workload]))
    assert out["correct"] is False
    assert out["attempted"] >= 1 and out["failed"] == out["attempted"]


def test_refuses_to_run_without_the_program():
    bare = os.path.join(ROOT, ".perfbench", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(BENCH, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__", ".pytest_cache"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        res = _run(["perfbench/run.py", *_cli("tokens")], cwd=bare)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    assert res.returncode != 0
    assert res.stdout.strip() == ""


# ---------------------------------------------------------------------------
# corruption harness, run in its own process
# ---------------------------------------------------------------------------

def _rewrite_first_part(path: str, column: str, change) -> None:
    """Apply ``change`` to a column of the first non-empty parquet part
    under ``path``."""
    import glob

    import pyarrow.parquet as pq

    part = next(p for p in sorted(glob.glob(os.path.join(path, "*.parquet")))
                if pq.ParquetFile(p).metadata.num_rows)
    table = pq.read_table(part)
    i = table.schema.get_field_index(column)
    pq.write_table(table.set_column(i, column, change(table[column].combine_chunks())), part)


def _shift_one_feature(feats):
    import pyarrow as pa

    values = feats.values.to_numpy().copy()
    values[feats.offsets[0].as_py()] += 0.25
    return pa.ListArray.from_arrays(feats.offsets, pa.array(values))


def _shift_one_d1(d1):
    import pyarrow as pa

    vals = d1.to_pylist()
    k = next(i for i, v in enumerate(vals) if v is not None)
    vals[k] += 1.0
    return pa.array(vals, pa.float64())


if __name__ == "__main__":
    sys.path[:0] = [BENCH, ROOT]
    import run
    import workloads

    wl = sys.argv[1]
    check = workloads.check_tokens if wl == "tokens" else workloads.check_events

    def corrupted_check(in_dir, out_dir, *rest):
        if wl == "tokens":
            _rewrite_first_part(os.path.join(out_dir, "tokens"), "features", _shift_one_feature)
        else:
            _rewrite_first_part(os.path.join(out_dir, "q_lag_lead"), "value_d1", _shift_one_d1)
        return check(in_dir, out_dir, *rest)

    setattr(workloads, check.__name__, corrupted_check)
    sys.exit(run.main(_cli(wl)))
