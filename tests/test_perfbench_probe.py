"""Guard for the benchmark's in-process kernel probe (perfbench/layers.py).

The probe times the public kernel stages one by one: it calls
``normalized_convolution``, ``derivative``, ``eig3x3``, ``histogram_counts``,
``pad_to_cube``, ``cube_side`` and ``CHUNK_CELLS`` next to
``batch_feature_vectors``. The benchmark's files change only with the
benchmark, so a kernel change that renames or re-signs one of these would
break the traced benchmark; this test makes it fail here first. No Spark.
"""

from __future__ import annotations

import math
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from image_feature_extraction_spark.functions import kernels as K

BENCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench")


@pytest.fixture
def layers(monkeypatch):
    monkeypatch.syspath_prepend(BENCH)
    import layers as L

    yield L
    for name in ("layers", "workloads"):
        sys.modules.pop(name, None)


def _docs():
    rng = np.random.default_rng(0)
    return [rng.integers(0, 50257, n).astype(np.int32) for n in (1, 8, 9, 30, 64, 200, 700, 1024)]


def test_kernel_stages_probe_runs(layers):
    docs = _docs()
    layers.kernel_stages(docs, layers.Tracer(False))
    got = K.batch_feature_vectors(docs, layers.W.SCALES)
    for i, toks in enumerate(docs):
        np.testing.assert_array_equal(got[i], K.doc_feature_vector(toks, layers.W.SCALES))


def test_kernel_layers_report(layers, tmp_path):
    docs = _docs()
    pq.write_table(
        pa.table({"tokens": pa.array([d.tolist() for d in docs], type=pa.list_(pa.int32()))}),
        tmp_path / "tokens.parquet",
    )
    out = layers.kernel_layers(layers.Tracer(True), str(tmp_path), seed=1)
    stages = ("smooth", "deriv", "eig", "bin", "pack")
    assert set(out) == {f"kernels.{k}_s" for k in stages} | {
        "kernels.docs_per_s",
        "kernels.mtok_per_s",
    }
    assert all(math.isfinite(v) for v in out.values())
    assert out["kernels.docs_per_s"] > 0
    assert all(out[f"kernels.{k}_s"] > 0 for k in stages[:-1])
