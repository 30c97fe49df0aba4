"""Pure-numpy numeric kernels (no Spark imports).

Re-creates the reference's per-sample numeric pipeline as vectorized numpy,
to be invoked from Arrow-batched pandas UDFs. Semantics are ported from
(cited for parity-checking, not copied):

- closed-form symmetric 3x3 eigenvalues with |l3|<=|l2|<=|l1| ordering:
  /root/reference/include/ife/Numerics/Symmetric3x3EigenvalueSolver.h:33-132
- eigenvalue-derived features (l1,l2,l3, LoG, Gaussian curvature, Frobenius):
  /root/reference/include/ife/Numerics/EigenvalueFeaturesFunctor.h:20-31
- dense histogram with bins (-inf,e0], (e0,e1], ..., (e_{n-1},+inf):
  /root/reference/include/ife/Statistics/DenseHistogram.h:22-53
- equi-depth (equalized-histogram) edge finding with duplicate handling:
  /root/reference/include/ife/Statistics/DetermineEdgesForEqualizedHistogram.h:21-139
- central-difference derivatives, order 1 and 2, ZeroFluxNeumann boundary:
  /root/reference/include/ife/Filters/Hessian3DImageFilter.hxx:19-59
- normalized Gaussian convolution {a*cT}/{a*c} (Knutsson-Westin 0th order):
  /root/reference/include/ife/Filters/NormalizedGaussianConvolutionImageFilter.h:14-45
- 8-feature emphysema pipeline and feature order:
  /root/reference/include/ife/Filters/ImageToEmphysemaFeaturesFilter.hxx:15-55,
  /root/reference/tools/ExtractFeatures.cxx:126-130
- bag-vector column layout (scale-major, then feature, then bin):
  /root/reference/tools/MakeBag.cxx:448-470

All kernels operate on batches: the leading axes are free, the cube axes are
the last three. Dtype discipline mirrors the reference: float32 image
pipeline (storage + stencil stages — `typedef float PixelType`,
ExtractFeatures.cxx:81), float64 for the eigen/trig closed form and all
histogram/edge arithmetic. On a 32-core host, where the batch path was
DRAM-bandwidth-bound, float32 stencils measured +44% throughput at
full-machine concurrency (not re-measured on smaller hosts).
"""

from __future__ import annotations

import math
from functools import lru_cache

import numpy as np

# Feature order matches /root/reference/tools/ExtractFeatures.cxx:126-130.
FEATURE_NAMES = (
    "gaussian_blur",
    "gradient_magnitude",
    "eig1",
    "eig2",
    "eig3",
    "laplacian_of_gaussian",
    "gaussian_curvature",
    "frobenius_norm",
)
NUM_FEATURES = len(FEATURE_NAMES)

DEFAULT_SCALES = (1.0, 2.0)

# Cache-blocking budget for batched cube processing (cells per chunk); see
# batch_feature_vectors. Each numpy call covers up to this many cells, so its
# fixed cost is paid once per chunk. Swept on a 4-core Xeon, one thread, the
# tokens benchmark's seed-2 input (4,096 docs in 512-doc calls, median of 7
# interleaved runs, peak = tracemalloc's largest per call): 4,096 / 8,192 /
# 16,384 / 32,768 cells gave 3.6k / 4.3k / 5.0k / 5.1k docs/s at a 1.9 / 1.9
# / 3.3 / 5.9 MB peak. The bincount-binned kernel gave 3.4k docs/s at a
# 3.4 MB peak with 8,192 cells, and its 16,384-cell run added ~5 MB of worker
# RSS on the tokens benchmark; 16,384 here stays below that peak
# (tests/test_kernels.py bounds it).
CHUNK_CELLS = 16384


# ---------------------------------------------------------------------------
# Symmetric 3x3 eigenvalues (closed form) + eigenvalue features
# ---------------------------------------------------------------------------

def _diag_order(v0: np.ndarray, v1: np.ndarray, v2: np.ndarray):
    """Order three diagonal entries so |e2| <= |e1| <= |e0|, replicating the
    exact branch structure of Symmetric3x3EigenvalueSolver.h:45-83 (including
    its tie behavior)."""
    a0, a1, a2 = np.abs(v0), np.abs(v1), np.abs(v2)
    c1 = a0 > a1
    c2 = a0 > a2
    c3 = a1 > a2
    c4 = a0 > a2
    e0 = np.where(c1, np.where(c2, v0, v2), np.where(c3, v1, v2))
    e1 = np.where(
        c1,
        np.where(c2, np.where(c3, v1, v2), v0),
        np.where(c3, np.where(c4, v0, v2), v1),
    )
    e2 = np.where(
        c1,
        np.where(c2, np.where(c3, v2, v1), v1),
        np.where(c3, np.where(c4, v2, v0), v0),
    )
    return e0, e1, e2


def _swap_where(a, b, sw) -> None:
    """Swap a[i] and b[i] in place where sw[i], as a bitwise select on the
    int64 views (d = (a ^ b) & -sw; a ^= d; b ^= d): every bit moves as is,
    NaN payloads and -0.0 included, and an unpredictable mask costs no
    more than a predictable one."""
    a, b = a.view(np.int64), b.view(np.int64)
    d = a ^ b
    d &= np.negative(sw, dtype=np.int64)
    a ^= d
    b ^= d


def _eig3x3_cols(A11, A12, A13, A22, A23, A33):
    """Column-wise core of eig3x3: the six packed entries as separate
    float64 arrays -> (e0, e1, e2) ordered |e2| <= |e1| <= |e0|. The inputs
    are only read. Feed it float64: the reference solves in double, and a
    float32 solve moves values across bin edges."""
    p_off = A12 * A12 + A13 * A13 + A23 * A23
    diag = p_off == 0
    any_diag = bool(diag.any())

    if any_diag:
        d0, d1, d2 = _diag_order(A11, A22, A33)

    # In-place formulation: identical operations and order to the naive
    # expression tree (bit-exact — asserted against saved outputs when
    # introduced), ~40% fewer full-size temporaries; this stage is the
    # largest single stage of batch_feature_vectors.
    q = A11 + A22
    q += A33
    q /= 3.0
    t1 = A11 - q
    t2 = A22 - q
    t3 = A33 - q
    p = t1 * t1
    p += t2 * t2
    p += t3 * t3
    p += 2.0 * p_off
    p /= 6.0
    np.sqrt(p, out=p)
    psafe = p + (p == 0)  # 1.0 where p == 0: p + 0.0 is p, -0.0 included
    B11 = t1
    B11 /= psafe
    B12 = A12 / psafe
    B13 = A13 / psafe
    B22 = t2
    B22 /= psafe
    B23 = A23 / psafe
    B33 = t3
    B33 /= psafe
    r = B11 * B22
    r *= B33
    t = B12 * B13
    t *= B23
    t *= 2.0
    r += t
    t = B23 * B23
    t *= B11
    r -= t
    t = B13 * B13
    t *= B22
    r -= t
    t = B12 * B12
    t *= B33
    r -= t
    r /= 2.0

    # The tail holds only q, p and phi (in r's memory): dropping the rest
    # first keeps the solve's peak, the kernel's largest, down.
    phi = r
    del p_off, t1, t2, t3, t, psafe, B11, B12, B13, B22, B23, B33, r

    # phi = arccos(clip(r)) / 3 in place: the reference's r <= -1 and r >= 1
    # branches need no where, as arccos(-1) == pi and arccos(1) == 0 exactly.
    # Then e0 = q + 2p cos(phi), e2 = q + 2p cos(phi + 2pi/3) and
    # e1 = 3q - e0 - e2 in place, in the naive expression's operation order.
    np.maximum(phi, -1.0, out=phi)
    np.minimum(phi, 1.0, out=phi)
    np.arccos(phi, out=phi)
    phi /= 3.0
    p *= 2.0
    e0 = np.cos(phi)
    e0 *= p
    e0 += q
    phi += np.pi * (2.0 / 3.0)
    e2 = np.cos(phi, out=phi)
    e2 *= p
    e2 += q
    e1 = q
    e1 *= 3.0
    e1 -= e0
    e1 -= e2
    del phi, p, q  # p is freed before the swaps' temporaries; phi and q are e2 and e1

    _swap_where(e0, e2, np.abs(e0) < np.abs(e2))
    _swap_where(e1, e2, np.abs(e1) < np.abs(e2))

    if any_diag:
        return np.where(diag, d0, e0), np.where(diag, d1, e1), np.where(diag, d2, e2)
    return e0, e1, e2


def eig3x3(A: np.ndarray) -> np.ndarray:
    """Eigenvalues of symmetric 3x3 matrices packed [A11,A12,A13,A22,A23,A33]
    on the last axis; returns (..., 3) ordered |e2| <= |e1| <= |e0|.

    Vectorized port of Symmetric3x3EigenvalueSolver.h:33-132 (trig closed
    form, r clamped to [-1,1], magnitude-ordered output with two swaps).
    """
    A = np.asarray(A, dtype=np.float64)
    return np.stack(_eig3x3_cols(*(A[..., i] for i in range(6))), axis=-1)


def _eigen_feature_rows(out: np.ndarray, *hess) -> None:
    """Write the six eigenvalue features of the six float64 Hessian columns
    `hess` into the rows of `out` (6, ...), in eigenvalue_features' order.
    `out` may hold `hess` itself: the solve reads every column before the
    first row is written."""
    e0, e1, e2 = _eig3x3_cols(*hess)
    out[0], out[1], out[2] = e0, e1, e2
    np.add(e0, e1, out=out[3])
    out[3] += e2
    np.multiply(e0, e1, out=out[4])
    out[4] *= e2
    np.multiply(e0, e0, out=out[5])
    out[5] += e1 * e1
    out[5] += e2 * e2
    np.sqrt(out[5], out=out[5])


def eigenvalue_features(A: np.ndarray) -> np.ndarray:
    """(..., 6) packed Hessians -> (..., 6) features
    [e1, e2, e3, e1+e2+e3, e1*e2*e3, sqrt(e1^2+e2^2+e3^2)]
    per EigenvalueFeaturesFunctor.h:20-31."""
    A = np.asarray(A, dtype=np.float64)
    out = np.empty((6,) + A.shape[:-1])
    _eigen_feature_rows(out, *(A[..., i] for i in range(6)))
    return np.moveaxis(out, 0, -1)


# ---------------------------------------------------------------------------
# Separable Gaussian smoothing (zero-outside boundary) and derivatives
# ---------------------------------------------------------------------------

@lru_cache(maxsize=256)
def _gauss_matrix(size: int, sigma: float) -> np.ndarray:
    """(size, size) 1-D convolution matrix of a truncated, normalized
    Gaussian (radius = ceil(4*sigma)); out-of-range contributions are zero,
    matching the normalized-convolution view that everything outside the
    cube has certainty 0."""
    radius = max(1, int(math.ceil(4.0 * sigma)))
    k = np.arange(-radius, radius + 1, dtype=np.float64)
    w = np.exp(-(k * k) / (2.0 * sigma * sigma))
    w /= w.sum()
    G = np.zeros((size, size), dtype=np.float64)
    idx = np.arange(size)
    for off, weight in zip(range(-radius, radius + 1), w):
        j = idx + off
        valid = (j >= 0) & (j < size)
        G[idx[valid], j[valid]] += weight
    return G


def _conv_axis(x: np.ndarray, G: np.ndarray, axis: int) -> np.ndarray:
    out = np.tensordot(x, G, axes=([axis], [1]))
    return np.moveaxis(out, -1, axis)


def gauss3(x: np.ndarray, sigma: float) -> np.ndarray:
    """Separable 3-D Gaussian smoothing over the last three axes, zero
    boundary (outside-cube cells contribute nothing — certainty-0 view).

    Computes in the INPUT dtype: float32 cubes stay float32 throughout,
    matching the reference's float-pixel ITK filters
    (tools/ExtractFeatures.cxx:81 `typedef float PixelType`) and halving
    DRAM traffic in the bandwidth-bound batch path."""
    s = x.shape[-1]
    assert x.shape[-2] == s and x.shape[-3] == s, "expects cube on last 3 axes"
    x = np.asarray(x)
    dt = x.dtype if x.dtype in (np.float32, np.float64) else np.float64
    G = _gauss_matrix(s, float(sigma)).astype(dt, copy=False)
    out = x.astype(dt, copy=False)
    for axis in (-1, -2, -3):
        out = _conv_axis(out, G, axis)
    return out


def derivative(x: np.ndarray, direction: int, order: int = 1) -> np.ndarray:
    """Central-difference derivative along cube direction 0/1/2 with
    ZeroFluxNeumann boundary, matching itk::DerivativeImageFilter as
    configured in Hessian3DImageFilter.hxx:19-51. Direction 0 is the
    fastest-varying (last numpy) axis of the C-order cube.

    Neighbours are read as slices of `x`, with no padded copy: every cell
    evaluates (x[i+1] - x[i-1]) * 0.5 or x[i+1] - 2*x[i] + x[i-1], and a
    face cell stands in for its own missing neighbour (the edge
    replicate)."""
    if order not in (1, 2):
        raise ValueError(f"unsupported derivative order {order}")
    x = np.asarray(x)
    if x.dtype not in (np.float32, np.float64):
        x = x.astype(np.float64)
    x = np.ascontiguousarray(x)
    if not 0 <= direction < x.ndim:
        raise ValueError(f"direction {direction} out of range for {x.ndim}-d input")
    axis = x.ndim - 1 - direction
    n = x.shape[axis]
    st = math.prod(x.shape[axis + 1 :])  # flat distance between neighbours
    out = np.empty(x.shape, dtype=x.dtype)
    flat, oflat = x.reshape(-1), out.reshape(-1)
    m = flat.size - 2 * st
    x3, o3 = x.reshape(-1, n, st), out.reshape(-1, n, st)
    # (cells, x[i+1], x[i], x[i-1]). First one contiguous pass over the
    # flat array, skipping the first and last `st` cells; it gets the face
    # cells wrong (their flat neighbour lies across the face), so the two
    # face runs come after it and overwrite them. With n == 1 both faces
    # are the one cell.
    runs = [(oflat[st : st + m], flat[2 * st :], flat[st : st + m], flat[:m])] if m > 0 else []
    nxt, prv = min(1, n - 1), max(n - 2, 0)
    runs += [
        (o3[:, 0], x3[:, nxt], x3[:, 0], x3[:, 0]),
        (o3[:, n - 1], x3[:, n - 1], x3[:, n - 1], x3[:, prv]),
    ]
    for o, hi, mid, lo in runs:
        if order == 1:
            np.subtract(hi, lo, out=o)
            o *= 0.5
        else:
            np.multiply(mid, 2.0, out=o)
            np.subtract(hi, o, out=o)
            o += lo
    return out


def gradient_magnitude(x: np.ndarray) -> np.ndarray:
    """sqrt(sum_i (d/dx_i)^2), central differences, no pre-smoothing —
    itk::GradientMagnitudeImageFilter as used in
    ImageToEmphysemaFeaturesFilter.hxx:27-28."""
    g0 = derivative(x, 0, 1)
    g1 = derivative(x, 1, 1)
    g2 = derivative(x, 2, 1)
    return np.sqrt(g0 * g0 + g1 * g1 + g2 * g2)


def hessian6(x: np.ndarray) -> np.ndarray:
    """Six unique second derivatives stacked on a NEW last axis in the order
    [Dxx, Dxy, Dxz, Dyy, Dyz, Dzz]; cross terms composed first-order-of-
    first-order, per Hessian3DImageFilter.hxx:19-59."""
    dxx = derivative(x, 0, 2)
    dyy = derivative(x, 1, 2)
    dzz = derivative(x, 2, 2)
    dx = derivative(x, 0, 1)
    dy = derivative(x, 1, 1)
    dxy = derivative(dx, 1, 1)
    dxz = derivative(dx, 2, 1)
    dyz = derivative(dy, 2, 1)
    return np.stack([dxx, dxy, dxz, dyy, dyz, dzz], axis=-1)


def normalized_convolution(img: np.ndarray, cert: np.ndarray, sigma: float) -> np.ndarray:
    """U = {a*cT}/{a*c} with a = Gaussian(sigma), zero-certainty cells
    interpolated from neighbors; 0 where the smoothed certainty is 0
    (nothing within reach). NormalizedGaussianConvolutionImageFilter.hxx:37-63."""
    img = np.asarray(img)
    cert = np.asarray(cert, dtype=img.dtype if img.dtype in (np.float32, np.float64) else np.float64)
    return _smoothed_ratio(np.stack([img * cert, cert]), sigma)


def _smoothed_ratio(num_den: np.ndarray, sigma: float) -> np.ndarray:
    """normalized_convolution's core: one gauss3 pass over the stacked
    (img * cert, cert) pair, then their ratio, 0 where the smoothed
    certainty is 0, as a new C-contiguous array (gauss3 returns a permuted
    view, which every derivative call would copy)."""
    num, den = gauss3(num_den, sigma)
    out = np.zeros(num.shape, dtype=num.dtype)
    np.divide(num, den, out=out, where=den > 0)
    return out


def emphysema_features(img: np.ndarray, cert: np.ndarray, sigma: float) -> np.ndarray:
    """Per-cell 8-feature stack at one scale over cubes (last three axes).

    Returns shape img.shape + (8,), features in FEATURE_NAMES order, each
    zeroed outside the mask (mask = cert != 0), per
    ImageToEmphysemaFeaturesFilter.hxx:15-55.
    """
    cert = np.asarray(cert)
    if cert.dtype not in (np.float32, np.float64):
        cert = cert.astype(np.float64)
    sm = normalized_convolution(img, cert, sigma)
    gm = gradient_magnitude(sm)
    H = hessian6(sm)
    ef = eigenvalue_features(H)  # (..., 6)
    feats = np.concatenate([np.stack([sm, gm], axis=-1), ef], axis=-1)
    mask = (cert != 0.0)[..., None]
    return np.where(mask, feats, 0.0)


# ---------------------------------------------------------------------------
# Histogram / equalized edges
# ---------------------------------------------------------------------------

def histogram_counts(values: np.ndarray, edges: np.ndarray) -> np.ndarray:
    """Counts with bins (-inf,e0], (e0,e1], ..., (e_{n-1},+inf) — the
    lower_bound insert of DenseHistogram.h:45-53 is
    np.searchsorted(side='left')."""
    edges = np.asarray(edges, dtype=np.float64)
    bins = np.searchsorted(edges, np.asarray(values, dtype=np.float64), side="left")
    return np.bincount(bins, minlength=len(edges) + 1).astype(np.int64)


def histogram_frequencies(values: np.ndarray, edges: np.ndarray) -> np.ndarray:
    """counts / total (DenseHistogram.h:55-60); all-zero if no values."""
    counts = histogram_counts(values, edges)
    total = counts.sum()
    if total == 0:
        return np.zeros_like(counts, dtype=np.float64)
    return counts / float(total)


def equalized_edges(sorted_values: np.ndarray, n_bins: int) -> np.ndarray:
    """Equi-depth bin edges over a SORTED array, duplicate-aware — an exact
    port of determineEdgesForEqualizedHistogram
    (DetermineEdgesForEqualizedHistogram.h:21-139). Returns n_bins-1 edges.
    """
    vals = np.asarray(sorted_values)
    n = len(vals)
    if n < n_bins:
        raise ValueError(
            "Too many bins. Number of bins must be less or equal to number of samples"
        )
    samples_per_bin = n // n_bins
    surplus = n - samples_per_bin * n_bins
    deficit = 0
    edges = []
    n_edge = 0
    pos = 0
    while n_edge + 1 < n_bins:
        index = samples_per_bin
        if surplus:
            s = surplus // (n_bins - n_edge)
            if s == 0:
                s = 1
            index += s
            surplus -= s
        elif deficit:
            d = deficit // (n_bins - n_edge)
            if d == 0:
                d = 1
            index -= d
            deficit -= d
        pos += index
        # Divergence from the reference (documented): on duplicate-heavy
        # inputs the C++ walks pos past the end and reads out of bounds
        # (DetermineEdgesForEqualizedHistogram.h:85 `edgeValue = *pos` after
        # the deficit push-forward) — undefined behavior there, clamped
        # here. Found by hypothesis (e.g. [-2,-1 x6, 0], 4 bins).
        pos = min(pos, n - 1)
        v = vals[pos]
        lb = int(np.searchsorted(vals[:pos], v, side="left"))
        if lb != pos:
            ub = int(np.searchsorted(vals, v, side="right"))
            if ub == n:
                pos = lb
            else:
                lbdist = pos - lb
                ubdist = ub - pos
                if lbdist < ubdist or (lbdist == ubdist and deficit):
                    pos = lb
                    if lbdist > deficit:
                        surplus = lbdist - deficit
                        deficit = 0
                    else:
                        deficit -= lbdist
                else:
                    pos = ub
                    if ubdist > surplus:
                        deficit = ubdist - surplus
                        surplus = 0
                    else:
                        surplus -= ubdist
        edges.append(vals[pos])
        n_edge += 1
    return np.asarray(edges)


# ---------------------------------------------------------------------------
# Token sequence <-> cube plumbing and the per-doc feature vector
# ---------------------------------------------------------------------------

def cube_side(n_tok: int) -> int:
    """Smallest s with s^3 >= n_tok (float-safe)."""
    s = int(round(n_tok ** (1.0 / 3.0)))
    while s * s * s < n_tok:
        s += 1
    while s > 1 and (s - 1) ** 3 >= n_tok:
        s -= 1
    return max(s, 1)


def pad_to_cube(tokens: np.ndarray, side: int | None = None):
    """Pad a token sequence to s^3 (pad cells get certainty 0 — the
    reference's mask semantics) and C-order reshape to (s,s,s).

    Returns (img float32 cube, cert float32 cube).
    """
    tokens = np.asarray(tokens)
    n = len(tokens)
    s = side if side is not None else cube_side(n)
    assert s * s * s >= n
    img = np.zeros(s * s * s, dtype=np.float32)
    img[:n] = tokens.astype(np.float32)
    cert = np.zeros(s * s * s, dtype=np.float32)
    cert[:n] = 1.0
    return img.reshape(s, s, s), cert.reshape(s, s, s)


def default_edges(n_edges: int = 4) -> np.ndarray:
    """Deterministic default per-(scale,feature) edge spec for token-valued
    inputs (vocab [0, 50257)): geometric-ish spread around 0 for the
    derivative features plus the raw-value range for the smoothed feature.
    Shape (NUM_FEATURES, n_edges). A flagship run normally replaces this
    with equalized_edges output (the two-phase flow of SURVEY.md §3.2-3.3).
    """
    vocab = 50257.0
    smooth_edges = np.linspace(vocab * 0.2, vocab * 0.8, n_edges)
    deriv_edges = np.linspace(-vocab * 0.25, vocab * 0.25, n_edges)
    pos_edges = np.linspace(0.0, vocab * 0.5, n_edges)
    big_edges = np.linspace(-vocab ** 2 * 0.01, vocab ** 2 * 0.01, n_edges)
    per_feature = {
        0: smooth_edges,          # gaussian_blur: raw value range
        1: pos_edges,             # gradient magnitude >= 0
        2: deriv_edges,           # eig1
        3: deriv_edges,           # eig2
        4: deriv_edges,           # eig3
        5: deriv_edges,           # LoG
        6: big_edges,             # gaussian curvature (product scale)
        7: pos_edges,             # frobenius >= 0
    }
    return np.stack([per_feature[i] for i in range(NUM_FEATURES)])


def doc_feature_vector(
    tokens: np.ndarray,
    scales=DEFAULT_SCALES,
    edges: np.ndarray | None = None,
) -> np.ndarray:
    """Per-document feature vector: for each scale and each of the 8
    features, histogram frequencies over mask-foreground cells, concatenated
    scale-major then feature then bin (MakeBag.cxx:459-470 layout).

    `edges`: (n_scales, NUM_FEATURES, n_edges) or (NUM_FEATURES, n_edges)
    (shared across scales). Output length:
    n_scales * NUM_FEATURES * (n_edges + 1).
    """
    if edges is None:
        edges = default_edges()
    edges = np.asarray(edges, dtype=np.float64)
    if edges.ndim == 2:
        edges = np.broadcast_to(edges, (len(scales),) + edges.shape)
    img, cert = pad_to_cube(tokens)
    fg = cert.reshape(-1) != 0
    out = []
    for si, sigma in enumerate(scales):
        feats = emphysema_features(img, cert, sigma)  # (s,s,s,8)
        flat = feats.reshape(-1, NUM_FEATURES)[fg]
        for fi in range(NUM_FEATURES):
            out.append(histogram_frequencies(flat[:, fi], edges[si, fi]))
    return np.concatenate(out)


def batch_feature_vectors(
    token_arrays,
    scales=DEFAULT_SCALES,
    edges: np.ndarray | None = None,
) -> np.ndarray:
    """Vectorized multi-document feature vectors.

    Documents are grouped by cube side s; each s-group is processed in
    (B,s,s,s) chunks of about CHUNK_CELLS cells, so every numpy op is
    vectorized across documents (padding with certainty-0 cells is a no-op
    for masked outputs — see SURVEY.md §7.1). Returns (n_docs, vec_len)
    float64 in input order, bit-identical to running the public stages
    one doc at a time and binning each feature with histogram_counts (the
    unfused reference in tests/test_kernels.py). `edges` must be sorted
    along the last axis, as histogram_counts assumes. Bit identity needs a
    single-threaded BLAS, as in the engine's Python workers: a threaded
    sgemm can round a batched gauss3 differently from a one-doc call.

    Binning counts by segment sums. A chunk's foreground values sit doc
    after doc in one (8, n_fg) array, so for each (scale, edge e_k) one
    np.add.reduceat over `vals <= e_k` gives every doc's count of values at
    or below e_k. With sorted edges these counts are cumulative: bin 0
    is the first, bin k the difference of the k-th and (k-1)-th, and the
    last bin is n_tok minus the count at the last edge. That is
    searchsorted(side="left") binning, NaN included: `NaN <= e` is false,
    so NaN lands in the last bin, where searchsorted puts it. Empty docs
    take no segment (reduceat would return the next value for one) and
    keep their all-zero row.
    """
    if edges is None:
        edges = default_edges()
    edges = np.asarray(edges, dtype=np.float64)
    if edges.ndim == 2:
        edges = np.broadcast_to(edges, (len(scales),) + edges.shape)
    n_edges = edges.shape[-1]
    n_cols = len(scales) * NUM_FEATURES

    lens = [len(t) for t in token_arrays]
    out = np.zeros((len(lens), n_cols * (n_edges + 1)), dtype=np.float64)

    by_side: dict[int, list[int]] = {}
    for i, n in enumerate(lens):
        if n:
            by_side.setdefault(cube_side(n), []).append(i)

    for s, side_idxs in by_side.items():
        # Cache blocking: the numeric chain materializes ~30 temporaries of
        # (B, s^3); keeping B*s^3 near CHUNK_CELLS keeps them cache-resident.
        chunk_b = max(1, CHUNK_CELLS // (s * s * s))
        cells = np.arange(s * s * s)
        for c0 in range(0, len(side_idxs), chunk_b):
            idxs = side_idxs[c0 : c0 + chunk_b]
            B = len(idxs)
            n_tok = np.array([lens[i] for i in idxs])
            # Foreground is each doc's prefix of n_tok cells, so one mask
            # packs the tokens and gathers every foreground value. The
            # numerator img * cert is img itself, so (img, cert) is stacked
            # once for every scale.
            fg = cells < n_tok[:, None]
            num_den = np.zeros((2,) + fg.shape, dtype=np.float32)
            num_den[0][fg] = np.concatenate(
                [token_arrays[i] for i in idxs], dtype=np.float32, casting="unsafe"
            )
            num_den[1] = fg
            num_den = num_den.reshape(2, B, s, s, s)

            def sel(a):
                return a.reshape(B, -1)[fg]

            vals = np.empty((NUM_FEATURES, int(n_tok.sum())))
            starts = np.cumsum(n_tok) - n_tok
            # Per doc and column: 0, the count at or below each edge, n_tok.
            # Consecutive differences are the histogram.
            cum = np.zeros((B, n_cols, n_edges + 2), dtype=np.intp)
            cum[:, :, -1] = n_tok[:, None]
            for si, sigma in enumerate(scales):
                sm = _smoothed_ratio(num_den, sigma)
                vals[0] = sel(sm)
                # hessian6 and gradient_magnitude, sharing the first
                # derivatives, with only the foreground of each kept. The
                # float32 Hessian lands in float64 rows BEFORE the solve,
                # as eig3x3 converts: a float32 solve flipped an eig1 bin
                # in one of 2,048 docs. Its six rows are then overwritten
                # by the six eigenvalue features.
                dx = derivative(sm, 0, 1)
                dy = derivative(sm, 1, 1)
                hess = vals[2:]
                for j, (a, d, order) in enumerate(
                    ((sm, 0, 2), (dx, 1, 1), (dx, 2, 1), (sm, 1, 2), (dy, 2, 1), (sm, 2, 2))
                ):
                    hess[j] = sel(derivative(a, d, order))
                dz = derivative(sm, 2, 1)
                del sm
                # sqrt(dx*dx + dy*dy + dz*dz), in place in dx
                dx *= dx
                dy *= dy
                dx += dy
                dz *= dz
                dx += dz
                np.sqrt(dx, out=dx)
                vals[1] = sel(dx)
                del dx, dy, dz
                _eigen_feature_rows(hess, *hess)
                cols = cum[:, si * NUM_FEATURES : (si + 1) * NUM_FEATURES]
                # uint8 summed into int32 runs twice as fast as bool into
                # int64; a doc's count fits, as Arrow list offsets are int32.
                for k in range(n_edges):
                    le = (vals <= edges[si, :, k, None]).view(np.uint8)
                    cols[:, :, k + 1] = np.add.reduceat(le, starts, axis=1, dtype=np.int32).T
            out[idxs] = np.diff(cum).reshape(B, -1) / n_tok[:, None]
    return out


def vec_digest(vec) -> str:
    """Canonical scalar digest of a float vector: md5 over ','-joined
    '%.9e' renderings. ONE definition shared by the Spark-side digest UDF
    (plans/queries.py) and the VALUES-literal oracle generators, so the
    driver's value-hash compares the underlying float64 bits through a
    single formatter — a Catalyst format_string would go through Java's
    HALF_UP %e rounding, which differs from Python's round-half-even on
    exact decimal ties (e.g. odd/2048 frequencies)."""
    import hashlib

    return hashlib.md5(
        ",".join("%.9e" % float(x) for x in vec).encode()
    ).hexdigest()
