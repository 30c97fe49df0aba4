"""Golden-value and property tests for the numpy kernels.

Fixtures ported verbatim from the reference unit tests:
- /root/reference/test/Symmetric3x3EigenvalueSolverTest.cxx:48-90
- /root/reference/test/DenseHistogramTest.cxx:10-55
- /root/reference/test/DetermineEdgesForEqualizedHistogramTest.cxx:30-120
"""

import tracemalloc

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from image_feature_extraction_spark.functions import kernels as K


# ---------------------------------------------------------------------------
# Symmetric 3x3 eigenvalues — golden fixtures
# ---------------------------------------------------------------------------

EIG_CASES = [
    # (name, [A11,A12,A13,A22,A23,A33], expected [e1,e2,e3], atol)
    ("Identity", [1, 0, 0, 1, 0, 1], [1, 1, 1], 1e-12),
    ("DiagonalPos", [1, 0, 0, 2, 0, 3], [3, 2, 1], 1e-12),
    ("DiagonalNeg", [-1, 0, 0, -2, 0, -3], [-3, -2, -1], 1e-12),
    ("DiagonalPosNeg", [1, 0, 0, -2, 0, 3], [3, -2, 1], 1e-12),
    ("Ones", [1, 1, 1, 1, 1, 1], [3, 0, 0], 1e-14),
    (
        "RandomsSmallNums",
        [0.27, 0.92, 0.58, 0.24, 0.75, 0.04],
        [1.70680634, -0.7205504, -0.43625594],
        1e-7,
    ),
    (
        "RandomsBigNums",
        [599, 860, -835, -941, 817, -207],
        [-2005.21004566, 1183.41690727, 272.79313839],
        1e-7,
    ),
]


@pytest.mark.parametrize("name,mat,expected,atol", EIG_CASES)
def test_eig3x3_golden(name, mat, expected, atol):
    got = K.eig3x3(np.array([mat], dtype=np.float64))[0]
    np.testing.assert_allclose(got, expected, atol=atol, rtol=1e-7)


def test_eig3x3_batch_matches_scalar():
    mats = np.array([m for _, m, _, _ in EIG_CASES], dtype=np.float64)
    batch = K.eig3x3(mats)
    for i, (_, m, expected, atol) in enumerate(EIG_CASES):
        np.testing.assert_allclose(batch[i], expected, atol=atol, rtol=1e-7)


def test_eig3x3_magnitude_ordering_random():
    rng = np.random.default_rng(42)
    A = rng.normal(size=(500, 6))
    ev = K.eig3x3(A)
    mags = np.abs(ev)
    assert (mags[:, 0] >= mags[:, 1] - 1e-12).all()
    assert (mags[:, 1] >= mags[:, 2] - 1e-12).all()
    # eigenvalue correctness vs numpy.linalg on the full matrices
    full = np.empty((500, 3, 3))
    full[:, 0, 0] = A[:, 0]
    full[:, 0, 1] = full[:, 1, 0] = A[:, 1]
    full[:, 0, 2] = full[:, 2, 0] = A[:, 2]
    full[:, 1, 1] = A[:, 3]
    full[:, 1, 2] = full[:, 2, 1] = A[:, 4]
    full[:, 2, 2] = A[:, 5]
    want = np.linalg.eigvalsh(full)
    got_sorted = np.sort(ev, axis=1)
    np.testing.assert_allclose(got_sorted, want, atol=1e-8, rtol=1e-8)


def _eig3x3_cols_where(A11, A12, A13, A22, A23, A33):
    """The solve with its selects written as np.where and np.clip: the
    reference form _eig3x3_cols must match bit for bit."""
    p_off = A12 * A12 + A13 * A13 + A23 * A23
    diag = p_off == 0
    d0, d1, d2 = K._diag_order(A11, A22, A33)
    q = (A11 + A22 + A33) / 3.0
    t1, t2, t3 = A11 - q, A22 - q, A33 - q
    p = np.sqrt((t1 * t1 + t2 * t2 + t3 * t3 + 2.0 * p_off) / 6.0)
    psafe = np.where(p == 0, 1.0, p)
    B11, B12, B13 = t1 / psafe, A12 / psafe, A13 / psafe
    B22, B23, B33 = t2 / psafe, A23 / psafe, t3 / psafe
    r = (B11 * B22 * B33 + 2.0 * (B12 * B13 * B23) - B23 * B23 * B11 - B13 * B13 * B22
         - B12 * B12 * B33) / 2.0
    phi = np.arccos(np.clip(r, -1.0, 1.0)) / 3.0
    e0 = np.cos(phi) * (2.0 * p) + q
    e2 = np.cos(phi + np.pi * (2.0 / 3.0)) * (2.0 * p) + q
    e1 = q * 3.0 - e0 - e2
    sw = np.abs(e0) < np.abs(e2)
    e0, e2 = np.where(sw, e2, e0), np.where(sw, e0, e2)
    sw = np.abs(e1) < np.abs(e2)
    e1, e2 = np.where(sw, e2, e1), np.where(sw, e1, e2)
    return np.where(diag, d0, e0), np.where(diag, d1, e1), np.where(diag, d2, e2)


def test_eig3x3_cols_bit_identical_to_where_form(monkeypatch):
    """The in-place solve (bitwise swaps, psafe by addition, clip as
    maximum/minimum) equals the np.where form bit for bit: on real Hessian
    columns of a batch, and on rows of NaN, +-inf, -0.0, huge, subnormal
    and diagonal entries. The batch tests cannot see this: batch and
    per-doc both call _eig3x3_cols."""
    hess = []
    core = K._eig3x3_cols

    def spy(*cols):
        hess.append([c.copy() for c in cols])
        return core(*cols)

    rng = np.random.default_rng(5)
    monkeypatch.setattr(K, "_eig3x3_cols", spy)
    K.batch_feature_vectors([rng.integers(0, 50257, n) for n in (30, 300, 1000, 3000)])
    monkeypatch.undo()
    real = [np.concatenate(c) for c in zip(*hess)]
    special = np.array([np.nan, np.inf, -np.inf, -0.0, 0.0, 1e300, -1e300, 5e-324, 1.0, -2.0])
    n = 20_000
    edge = [np.where(rng.random(n) < 0.4, rng.choice(special, n), rng.normal(size=n))
            for _ in range(6)]
    for i in (1, 2, 4):  # diagonal rows
        edge[i][:500] = 0.0
    with np.errstate(all="ignore"):
        for cols in (real, edge):
            got = K._eig3x3_cols(*cols)
            want = _eig3x3_cols_where(*cols)
            for g, w in zip(got, want):
                np.testing.assert_array_equal(g.view(np.int64), w.view(np.int64))


def test_eigenvalue_features():
    A = np.array([m for _, m, _, _ in EIG_CASES], dtype=np.float64)
    ev = K.eig3x3(A)
    f = K.eigenvalue_features(A)
    np.testing.assert_allclose(f[:, :3], ev)
    np.testing.assert_allclose(f[:, 3], ev.sum(axis=1))
    np.testing.assert_allclose(f[:, 4], ev.prod(axis=1))
    np.testing.assert_allclose(f[:, 5], np.sqrt((ev**2).sum(axis=1)))


# ---------------------------------------------------------------------------
# Dense histogram — golden fixture
# ---------------------------------------------------------------------------

HIST_EDGES = [1, 2.5, 3.0, 4.7, 6.2, 8.3]
HIST_VALUES = [-1, 0, 0.5, 1, 1.5, 2.1, 2.6, 2.9, 3.2, 3.5, 4.2, 4.6, 5, 6, 7, 8, 9, 10]


def test_histogram_counts_golden():
    counts = K.histogram_counts(np.array(HIST_VALUES), np.array(HIST_EDGES))
    np.testing.assert_array_equal(counts, [4, 2, 2, 4, 2, 2, 2])


def test_histogram_frequencies_golden():
    freq = K.histogram_frequencies(np.array(HIST_VALUES), np.array(HIST_EDGES))
    np.testing.assert_allclose(freq, np.array([4, 2, 2, 4, 2, 2, 2]) / 18.0)


def test_histogram_left_edge_inclusive():
    # value == edge goes into the bin ENDING at that edge: (e_{i-1}, e_i]
    counts = K.histogram_counts(np.array([1.0]), np.array(HIST_EDGES))
    assert counts[0] == 1
    counts = K.histogram_counts(np.array([2.5]), np.array(HIST_EDGES))
    assert counts[1] == 1


def test_histogram_empty():
    np.testing.assert_array_equal(
        K.histogram_frequencies(np.array([]), np.array(HIST_EDGES)), np.zeros(7)
    )


# ---------------------------------------------------------------------------
# Equalized (equi-depth) edges — golden + property
# ---------------------------------------------------------------------------

def test_edges_unique_equalizable():
    np.testing.assert_array_equal(
        K.equalized_edges(np.arange(1, 10), 3), [4, 7]
    )


def test_edges_all_values_equal():
    edges = K.equalized_edges(np.ones(8), 2)
    assert edges[0] == 1


def test_edges_uneven_distribution():
    vals = np.array([1, 1, 1, 1, 1, 2, 2, 3, 3, 3])
    np.testing.assert_array_equal(K.equalized_edges(vals, 3), [2, 3])


def test_edges_too_many_bins():
    with pytest.raises(ValueError):
        K.equalized_edges(np.arange(1, 10), 10)


def test_edges_increasing_property():
    rng = np.random.default_rng(7)
    vals = np.sort(rng.uniform(-10, 10, 1000))
    for n_bins in (2, 3, 7, 10, 33):
        edges = K.equalized_edges(vals, n_bins)
        assert len(edges) == n_bins - 1
        assert (np.diff(edges) > 0).all()


def test_edges_equal_bin_occupancy_unique_values():
    # With all-unique values and n divisible by nBins, every bin holds
    # exactly n/nBins samples (reference property test BinsAreEqualSize,
    # DetermineEdgesForEqualizedHistogramTest.cxx:84-120 — which counts
    # bins LEFT-closed [e_{j-1}, e_j), a sample equal to an edge opens the
    # next bin).
    rng = np.random.default_rng(11)
    vals = np.sort(rng.permutation(990).astype(np.float64))
    for n_bins in (2, 3, 5, 9, 11):
        edges = K.equalized_edges(vals, n_bins)
        bins = np.searchsorted(edges, vals, side="right")
        counts = np.bincount(bins, minlength=n_bins)
        assert (counts == len(vals) // n_bins).all()


@settings(max_examples=50, deadline=None)
@given(
    st.lists(st.floats(-1e6, 1e6, allow_nan=False), min_size=4, max_size=200),
    st.integers(2, 4),
)
def test_edges_hypothesis_increasing(values, n_bins):
    vals = np.sort(np.asarray(values, dtype=np.float64))
    if len(vals) < n_bins:
        return
    edges = K.equalized_edges(vals, n_bins)
    assert len(edges) == n_bins - 1
    assert (np.diff(edges) >= 0).all()


# ---------------------------------------------------------------------------
# Derivatives / smoothing / features
# ---------------------------------------------------------------------------

def test_derivative_linear_ramp():
    # d/dx of a linear ramp is 1 in the interior, 0.5 at the replicate edges
    s = 6
    x = np.tile(np.arange(s, dtype=np.float64), (s, s, 1))
    d = K.derivative(x, 0, 1)
    assert np.allclose(d[..., 1:-1], 1.0)
    assert np.allclose(d[..., 0], 0.5)
    assert np.allclose(d[..., -1], 0.5)
    # second derivative of a ramp is 0 in the interior
    d2 = K.derivative(x, 0, 2)
    assert np.allclose(d2[..., 1:-1], 0.0)


def test_derivative_axis_mapping():
    # direction 0 must be the fastest-varying axis of the C-order flat buffer
    s = 4
    flat = np.arange(s**3, dtype=np.float64)
    cube = flat.reshape(s, s, s)
    d0 = K.derivative(cube, 0, 1)  # consecutive flat cells differ by 1
    assert np.allclose(d0[1:-1, 1:-1, 1:-1], 1.0)
    d2 = K.derivative(cube, 2, 1)  # slowest axis: stride s^2
    assert np.allclose(d2[1:-1, 1:-1, 1:-1], float(s * s))


def test_gauss3_constant_preserved_interior():
    # a constant field smoothed with a normalized kernel stays constant away
    # from the zero-padded boundary
    s = 11
    x = np.full((s, s, s), 5.0)
    sm = K.gauss3(x, 1.0)
    assert np.allclose(sm[5, 5, 5], 5.0, atol=1e-9)


def test_normalized_convolution_interpolates_constant():
    # constant signal with holes (cert 0) is reconstructed exactly
    s = 9
    img = np.full((s, s, s), 3.0)
    cert = np.ones((s, s, s))
    cert[4, 4, 4] = 0
    img_holed = img * cert
    sm = K.normalized_convolution(img_holed, cert, 1.5)
    assert np.allclose(sm, 3.0, atol=1e-9)


def test_hessian_quadratic():
    # f = x^2 → Dxx = 2 in the interior, all other components 0
    s = 7
    ax = np.arange(s, dtype=np.float64)
    x = np.tile(ax**2, (s, s, 1))
    H = K.hessian6(x)
    interior = (slice(2, -2),) * 3
    np.testing.assert_allclose(H[interior][..., 0], 2.0, atol=1e-12)
    for comp in range(1, 6):
        np.testing.assert_allclose(H[interior][..., comp], 0.0, atol=1e-12)


def test_emphysema_features_masked_zero():
    rng = np.random.default_rng(3)
    img = rng.uniform(0, 100, (6, 6, 6))
    cert = np.ones((6, 6, 6))
    cert.reshape(-1)[100:] = 0  # pad region
    feats = K.emphysema_features(img * cert, cert, 1.0)
    flat = feats.reshape(-1, 8)
    assert np.all(flat[100:] == 0.0)
    assert np.any(flat[:100] != 0.0)


def test_cube_side():
    assert K.cube_side(1) == 1
    assert K.cube_side(8) == 2
    assert K.cube_side(9) == 3
    assert K.cube_side(27) == 3
    assert K.cube_side(28) == 4
    assert K.cube_side(1024) == 11
    assert K.cube_side(8192) == 21


def test_batch_matches_single_doc():
    # batch path (common-side padding) must equal the per-doc path exactly
    rng = np.random.default_rng(5)
    docs = [
        rng.integers(0, 50257, n).astype(np.int32)
        for n in (16, 30, 64, 100, 64, 16)
    ]
    batch = K.batch_feature_vectors(docs, scales=(1.0, 2.0))
    for i, toks in enumerate(docs):
        single = K.doc_feature_vector(toks, scales=(1.0, 2.0))
        np.testing.assert_allclose(batch[i], single, atol=1e-12, rtol=1e-12)


def test_feature_vector_deterministic():
    toks = np.arange(100, dtype=np.int32) * 37 % 50257
    v1 = K.doc_feature_vector(toks)
    v2 = K.doc_feature_vector(toks.copy())
    np.testing.assert_array_equal(v1, v2)
    assert len(v1) == len(K.DEFAULT_SCALES) * K.NUM_FEATURES * 5


# ---------------------------------------------------------------------------
# batch_feature_vectors against the unfused per-doc reference, bit for bit
# ---------------------------------------------------------------------------

def emphysema_features_fg(img, cert, sigma, rows, cols):
    """Per-cell 8-feature values at the foreground cells (rows, cols) of
    batched cubes (B,s,s,s), in FEATURE_NAMES order: the public stages
    composed one after the other, with the (n_fg, 8) matrix materialized.
    The reference that batch_feature_vectors' fused chunk loop must match
    bit for bit."""
    B = img.shape[0]
    sm = K.normalized_convolution(img, cert, sigma)
    gm = K.gradient_magnitude(sm)
    H = K.hessian6(sm)
    sel_sm = sm.reshape(B, -1)[rows, cols]
    sel_gm = gm.reshape(B, -1)[rows, cols]
    ef = K.eigenvalue_features(H.reshape(B, -1, 6)[rows, cols])
    return np.concatenate([np.stack([sel_sm, sel_gm], axis=-1), ef], axis=-1)


def unfused_feature_vectors(docs, scales=K.DEFAULT_SCALES, edges=None):
    """One doc at a time: the (n_fg, 8) reference matrix per scale,
    binned per feature by histogram_counts (searchsorted side='left')."""
    edges = K.default_edges() if edges is None else np.asarray(edges, dtype=np.float64)
    if edges.ndim == 2:
        edges = np.broadcast_to(edges, (len(scales),) + edges.shape)
    nb = edges.shape[-1] + 1
    want = np.zeros((len(docs), len(scales) * K.NUM_FEATURES * nb))
    for i, toks in enumerate(docs):
        img, cert = K.pad_to_cube(np.asarray(toks))
        rows, cols = np.nonzero(cert.reshape(1, -1) != 0.0)
        total = max(len(rows), 1)
        for si, sigma in enumerate(scales):
            fg = emphysema_features_fg(img[None], cert[None], sigma, rows, cols)
            for fi in range(K.NUM_FEATURES):
                off = (si * K.NUM_FEATURES + fi) * nb
                want[i, off:off + nb] = K.histogram_counts(fg[:, fi], edges[si, fi]) / total
    return want


def test_fused_binning_matches_unfused_reference():
    """batch_feature_vectors' fused chunk loop == histogramming the
    (n_fg, 8) matrix the test-side reference materializes, bit for bit."""
    rng = np.random.default_rng(123)
    docs = [rng.integers(0, 50257, int(L)) for L in rng.integers(16, 2048, 60)]
    got = K.batch_feature_vectors(docs, scales=K.DEFAULT_SCALES)
    np.testing.assert_array_equal(got, unfused_feature_vectors(docs))


BOUNDARY_LENGTHS = (0, 1, 2, 8, 9, 27, 28, 1024, 8192, 9261)


def test_batch_bit_identical_at_cube_boundaries():
    """Token counts at and just past each cube size (s = 1, 2, 3, 11, 21
    and the one-doc chunks past CHUNK_CELLS), plus an all-zero doc, whose
    gradient and Frobenius values sit exactly on the 0.0 edges."""
    rng = np.random.default_rng(7)
    docs = [rng.integers(0, 50257, n).astype(np.int32) for n in BOUNDARY_LENGTHS]
    docs.append(np.zeros(300, dtype=np.int64))
    got = K.batch_feature_vectors(docs)
    want = unfused_feature_vectors(docs)
    np.testing.assert_array_equal(got, want)
    # the all-zero doc really puts values on an edge: everything in bin 0
    zero = got[-1].reshape(len(K.DEFAULT_SCALES), K.NUM_FEATURES, -1)
    np.testing.assert_array_equal(zero[:, [1, 7], 0], 1.0)


def test_batch_bit_identical_across_chunks_and_interleaved_sides():
    """One cube side with more docs than fit in one chunk, and sides
    interleaved in input order: every output row lands on its own doc."""
    rng = np.random.default_rng(11)
    s9 = [rng.integers(0, 50257, int(n)) for n in rng.integers(513, 730, 25)]
    assert len(s9) > K.CHUNK_CELLS // 9**3
    mixed = [rng.integers(0, 50257, int(n)) for n in rng.integers(1, 400, 40)]
    docs = [d for pair in zip(s9, mixed) for d in pair] + mixed[len(s9):]
    got = K.batch_feature_vectors(docs)
    np.testing.assert_array_equal(got, unfused_feature_vectors(docs))


def test_batch_bit_identical_with_custom_edges():
    """Per-(scale, feature) 3-D edges, 7 of them, including an exact 0.0
    edge and a tie between two edges."""
    rng = np.random.default_rng(13)
    edges = rng.normal(0.0, 3000.0, (2, K.NUM_FEATURES, 7))
    edges[:, :, 3] = 0.0
    edges[:, :, 5] = edges[:, :, 4]
    edges = np.sort(edges, axis=-1)
    docs = [rng.integers(0, 50257, int(n)) for n in rng.integers(1, 1100, 30)]
    docs.append(np.zeros(50, dtype=np.int32))
    got = K.batch_feature_vectors(docs, scales=(1.0, 2.0), edges=edges)
    assert got.shape == (len(docs), 2 * K.NUM_FEATURES * 8)
    np.testing.assert_array_equal(
        got, unfused_feature_vectors(docs, (1.0, 2.0), edges)
    )


def test_eigen_solve_runs_in_float64(monkeypatch):
    """The stencils run in float32, the eigen solve in float64, as eig3x3
    converts its input: solving the float32 Hessian directly moved an
    eig1 value across a bin edge in one of 2,048 docs."""
    seen = []
    core = K._eig3x3_cols

    def spy(*cols):
        seen.extend(c.dtype for c in cols)
        return core(*cols)

    monkeypatch.setattr(K, "_eig3x3_cols", spy)
    rng = np.random.default_rng(3)
    K.batch_feature_vectors([rng.integers(0, 50257, n) for n in (5, 100, 700)])
    assert seen and all(dt == np.float64 for dt in seen)


def test_batch_only_empty_docs():
    """A call whose every chunk holds no foreground returns all-zero rows."""
    docs = [np.zeros(0, dtype=np.int32)] * 3
    got = K.batch_feature_vectors(docs)
    np.testing.assert_array_equal(got, np.zeros((3, len(K.DEFAULT_SCALES) * K.NUM_FEATURES * 5)))
    np.testing.assert_array_equal(got, unfused_feature_vectors(docs))


def test_batch_empty_docs_between_nonempty_in_one_chunk():
    """Empty docs between one-token docs, all of cube side 1 and so in one
    chunk: an empty doc takes no reduceat segment (reduceat returns the
    next value for an empty one), and its neighbours keep their counts."""
    rng = np.random.default_rng(19)
    lens = (0, 1, 0, 0, 1, 1, 0, 1, 0)
    docs = [rng.integers(0, 50257, n) for n in lens]
    assert {K.cube_side(n) for n in lens} == {1}
    np.testing.assert_array_equal(K.batch_feature_vectors(docs), unfused_feature_vectors(docs))


def test_batch_bit_identical_single_scale():
    rng = np.random.default_rng(23)
    docs = [rng.integers(0, 50257, int(n)) for n in rng.integers(0, 1100, 20)]
    got = K.batch_feature_vectors(docs, scales=(1.5,))
    assert got.shape == (len(docs), K.NUM_FEATURES * 5)
    np.testing.assert_array_equal(got, unfused_feature_vectors(docs, scales=(1.5,)))


@pytest.mark.parametrize("extra", [0, 1])
def test_batch_bit_identical_full_chunk_and_one_more(extra):
    """An s-group of exactly CHUNK_CELLS // s**3 docs (one full chunk), and
    of one doc more (a full chunk plus a one-doc chunk)."""
    rng = np.random.default_rng(29 + extra)
    s = 11
    n_docs = K.CHUNK_CELLS // s**3 + extra
    docs = [rng.integers(0, 50257, int(n)) for n in rng.integers((s - 1) ** 3 + 1, s**3 + 1, n_docs)]
    assert {K.cube_side(len(d)) for d in docs} == {s}
    np.testing.assert_array_equal(K.batch_feature_vectors(docs), unfused_feature_vectors(docs))


def test_batch_peak_memory_bounded():
    """The Python worker's memory per Arrow batch: the traced peak of one
    batch_feature_vectors call on a 512-doc batch shaped like the tokens
    benchmark's input (16-1,024 tokens, plus one 9,261-token doc, the
    largest cube) stays within 4.0 MB. The 8,192-cell, one-bincount kernel
    peaked at 3.2 MB here; the same kernel at 16,384 cells reached 5.9 MB,
    and on the benchmark that showed up as ~5 MB more worker RSS."""
    rng = np.random.default_rng(5)
    lens = [int(n) for n in rng.integers(16, 1025, 511)] + [9261]
    docs = [rng.integers(0, 50257, n).astype(np.int32) for n in lens]
    K.batch_feature_vectors(docs)  # fill the Gaussian matrix cache first
    tracemalloc.start()
    try:
        K.batch_feature_vectors(docs)
        _, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    assert peak <= 4_000_000, f"peak {peak / 1e6:.2f} MB"


def test_derivative_matches_padded_form():
    """The slice-based stencil equals the edge-padded central difference
    bit for bit, for every direction and order, including sides 1 and 2."""
    rng = np.random.default_rng(17)
    for shape in [(3, 5, 5, 5), (2, 1, 1, 1), (2, 2, 2, 2), (4, 3, 7)]:
        for dt in (np.float32, np.float64):
            x = rng.normal(0, 100, shape).astype(dt)
            for d in range(3):
                ax = -(d + 1)
                first = np.take(x, [0], axis=ax)
                last = np.take(x, [-1], axis=ax)
                xp = np.concatenate([first, x, last], axis=ax)
                n = x.shape[ax]
                lo = np.take(xp, np.arange(0, n), axis=ax)
                mid = np.take(xp, np.arange(1, n + 1), axis=ax)
                hi = np.take(xp, np.arange(2, n + 2), axis=ax)
                np.testing.assert_array_equal(K.derivative(x, d, 1), (hi - lo) * 0.5)
                np.testing.assert_array_equal(K.derivative(x, d, 2), hi - 2.0 * mid + lo)
    with pytest.raises(ValueError):
        K.derivative(np.zeros((4, 4)), 2)
