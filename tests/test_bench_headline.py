"""bench.py's last stdout line stays a parseable headline of at most 1 KB for
the full 84-query registry, while the full record carries every rep list."""

from __future__ import annotations

import json

import __spark_entry__
import bench


def test_headline_parses_and_fits_1kb():
    names = list(__spark_entry__.queries())
    assert len(names) == 84
    timings = {n: (-1.0 if i in (3, 40) else 1.234 + i) for i, n in enumerate(names)}
    record = {
        "metric": "bench_suite_seconds",
        "value": round(sum(v for v in timings.values() if v > 0), 3),
        "unit": "sec",
        "queries": timings,
        "reps": {n: [1.5, 1.25, 1.234] for n in names},
        "sf": 0.1,
        "cores": 4,
        "extras": {
            "sequences_per_sec": 25123.4,
            "sequences_per_sec_best": 26001.2,
            "flagship_shots_sec": [1.9, 1.85, 1.95, 1.88, 1.91],
            **{f"error_{names[i]}": "Py4JJavaError: " + "x" * 185 for i in (3, 40)},
        },
        "methodology": {"version": 4, "queries": "q", "flagship": "f"},
    }
    assert len(json.dumps(record)) > 2048  # the record would not fit a 2 KB tail

    line = bench.headline(record)
    assert "\n" not in line and len(line.encode()) <= 1024
    head = json.loads(line)
    assert head["value"] == record["value"]
    assert head["queries"] == 84 and head["failed_queries"] == 2
    assert head["sequences_per_sec"] == 25123.4
    assert head["sequences_per_sec_best"] == 26001.2
    assert head["methodology"] == 4 and head["cores"] == 4
    assert head["record"] == bench.RECORD_FILE
