"""Property-based hardening (hypothesis): kernel invariants that must hold
for ANY input, and union-find vs an independent reachability oracle on random
graphs. Pure-numpy/driver properties — no Spark session needed, so these run
in milliseconds and catch boundary inputs the fixtures never produce."""

from __future__ import annotations

import numpy as np
from hypothesis import assume, example, given, settings
from hypothesis import strategies as st

from al_drift_detection_spark.kernels import (
    chi2_2samp,
    chi2_sf,
    js_divergence,
    kolmogorov_sf,
    ks_2samp,
    mmd_rbf,
    psi,
    wasserstein_1d,
)

floats = st.floats(min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False)
samples = st.lists(floats, min_size=0, max_size=200)


@given(samples, samples)
@settings(max_examples=60, deadline=None)
def test_ks_bounds_and_symmetry(a, b):
    a, b = np.asarray(a), np.asarray(b)
    d, p = ks_2samp(a, b)
    assert 0.0 <= d <= 1.0 and 0.0 <= p <= 1.0
    d2, p2 = ks_2samp(b, a)  # two-sided KS is symmetric
    assert d == d2 and p == p2


@given(st.lists(floats, min_size=1, max_size=200))
@settings(max_examples=40, deadline=None)
def test_ks_identical_samples_is_zero(a):
    d, p = ks_2samp(np.asarray(a), np.asarray(a))
    assert d == 0.0 and p == 1.0


@given(st.floats(min_value=0.0, max_value=10.0))
@settings(max_examples=50, deadline=None)
def test_kolmogorov_sf_monotone_and_bounded(lam):
    p = kolmogorov_sf(lam)
    assert 0.0 <= p <= 1.0
    assert kolmogorov_sf(lam + 0.1) <= p + 1e-12  # survival fn is decreasing


@given(samples, samples)
@settings(max_examples=60, deadline=None)
def test_psi_finite_and_zero_on_identical(a, b):
    v = psi(np.asarray(a), np.asarray(b))
    assert np.isfinite(v)
    if len(a) > 0:
        assert psi(np.asarray(a), np.asarray(a)) == 0.0 or len(set(a)) <= 2


@given(st.lists(floats, min_size=2, max_size=100), st.lists(floats, min_size=2, max_size=100))
@settings(max_examples=40, deadline=None)
def test_mmd_symmetric_and_near_zero_on_identical(a, b):
    x, y = np.asarray(a), np.asarray(b)
    assert np.isfinite(mmd_rbf(x, y))
    # unbiased estimator on identical samples concentrates near 0
    m = mmd_rbf(x, x)
    assert m <= 1e-9


@given(samples, samples)
@settings(max_examples=60, deadline=None)
def test_wasserstein_symmetric_nonneg_zero_on_identical(a, b):
    x, y = np.asarray(a), np.asarray(b)
    w = wasserstein_1d(x, y)
    assert np.isfinite(w) and w >= 0.0
    assert wasserstein_1d(y, x) == w  # symmetric
    if len(a) > 0:
        assert wasserstein_1d(x, x) == 0.0


@given(samples, samples, st.integers(min_value=-6, max_value=6))
@settings(max_examples=40, deadline=None)
def test_wasserstein_scale_equivariant(a, b, k):
    # W1(s·x, s·y) = s · W1(x, y) — the mass-weighted metric scales with the
    # data units (KS does not; this is the distinguishing property). s is a
    # power of two, so s·x is exact and every difference, product and sum
    # inside the kernel scales exactly: the identity holds bit for bit.
    # Precondition: no intermediate is subnormal. Gradual underflow rounds a
    # subnormal at a coarser absolute step (W1([0], [0, 5e-324]) is 0.0,
    # W1 of the doubled inputs 5e-324); nonzero inputs of magnitude
    # >= 2**-900 keep every difference a multiple of 2**-952 and every
    # mass-weighted term (ECDF gap >= 1/(200·200) > 2**-16) normal for
    # every s >= 2**-6.
    assume(all(v == 0.0 or abs(v) >= 2.0**-900 for v in a + b))
    s = 2.0**k
    x, y = np.asarray(a), np.asarray(b)
    if len(x) == 0 or len(y) == 0:
        return
    assert wasserstein_1d(s * x, s * y) == s * wasserstein_1d(x, y)


@given(samples, samples, st.floats(min_value=1e-6, max_value=1e9))
@example(a=[1e-05] * 3, b=[0.0, 1.0], s=1e-06)
@example(a=[0.0], b=[1e-05] * 3, s=1e-06)
@settings(max_examples=40, deadline=None)
def test_w1_statistic_scale_invariant(a, b, s):
    """The ADVISORY statistic drift._w1_statistic is UNIT-FREE on every
    path — including the constant-reference fallback (review-caught: a raw
    fallback made verdicts depend on the column's native units)."""
    from al_drift_detection_spark.drift import _w1_statistic

    x, y = np.asarray(a), np.asarray(b)
    if len(x) == 0 or len(y) == 0:
        return
    v1, v2 = _w1_statistic(x, y), _w1_statistic(s * x, s * y)
    if np.isinf(v1):
        assert np.isinf(v2)
    else:
        assert np.isclose(v1, v2, rtol=1e-6, atol=1e-9), (v1, v2)
    assert v1 >= 0.0
    # constant-vs-constant: 0 iff equal, +inf otherwise, at any scale
    c = np.full(8, 3.0)
    assert _w1_statistic(c, c.copy()) == 0.0
    assert np.isinf(_w1_statistic(c, c + s))


def test_w1_statistic_empty_side_is_zero():
    """An empty side (all-NULL column, window without a sample) scores 0.0
    and never raises: the drift UDFs call this on such windows."""
    from al_drift_detection_spark.drift import _w1_statistic

    empty = np.empty(0)
    assert _w1_statistic(np.full(3, 5.0), empty) == 0.0
    assert _w1_statistic(empty, np.array([1.0, 2.0])) == 0.0
    assert _w1_statistic(empty, empty) == 0.0


@given(samples, samples)
@settings(max_examples=60, deadline=None)
def test_js_bounded_and_finite(a, b):
    x, y = np.asarray(a), np.asarray(b)
    v = js_divergence(x, y)
    assert np.isfinite(v)
    assert -1e-12 <= v <= np.log(2) + 1e-12
    if len(a) > 0:
        assert js_divergence(x, x) <= 1e-12


@given(st.floats(min_value=0.0, max_value=1e4), st.integers(min_value=1, max_value=200))
@settings(max_examples=60, deadline=None)
def test_chi2_sf_bounded_and_monotone(x, k):
    p = chi2_sf(x, k)
    assert 0.0 <= p <= 1.0
    assert chi2_sf(x + 0.5, k) <= p + 1e-9  # decreasing in the statistic
    assert chi2_sf(x, k + 1) >= p - 1e-9    # increasing in dof


@given(
    st.lists(st.integers(min_value=0, max_value=5), min_size=0, max_size=200),
    st.lists(st.integers(min_value=0, max_value=5), min_size=0, max_size=200),
)
@settings(max_examples=60, deadline=None)
def test_chi2_2samp_invariants(a, b):
    stat, dof, p = chi2_2samp(np.asarray(a), np.asarray(b))
    assert stat >= 0.0 and np.isfinite(stat)
    assert 0.0 <= p <= 1.0
    # symmetric in the two samples
    stat2, dof2, p2 = chi2_2samp(np.asarray(b), np.asarray(a))
    assert np.isclose(stat, stat2) and dof == dof2


# ---- union-find (dedup_clusters driver path) vs reachability oracle ----
def _reference_components(n_nodes: int, edges: list[tuple[int, int]]) -> dict[int, int]:
    """Independent O(n·m) reachability: repeatedly relax labels to min."""
    lbl = {i: i for i in range(n_nodes)}
    for _ in range(n_nodes):
        changed = False
        for a, b in edges:
            m = min(lbl[a], lbl[b])
            if lbl[a] != m or lbl[b] != m:
                lbl[a] = lbl[b] = m
                changed = True
        if not changed:
            break
    return lbl


@given(
    st.integers(min_value=1, max_value=30),
    st.lists(st.tuples(st.integers(0, 29), st.integers(0, 29)), max_size=60),
)
@settings(max_examples=60, deadline=None)
def test_union_find_matches_reachability(n, raw_edges):
    edges = [(a % n, b % n) for a, b in raw_edges if a % n != b % n]
    # the same union-find used by dedup_clusters' driver path
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:
            parent[x], x = root, parent[x]
        return root

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[rb] = ra
    comp: dict = {}
    for x in set(parent) | {find(x) for x in parent}:
        comp.setdefault(find(x), set()).add(x)
    canon = {}
    for root, members in comp.items():
        members.add(root)
        m = min(members)
        for x in members:
            canon[x] = m
    expected = _reference_components(n, edges)
    for x in range(n):
        assert canon.get(x, x) == expected[x]


@given(samples, samples)
@settings(max_examples=60, deadline=None)
def test_hist_distances_invariants(a, b):
    from al_drift_detection_spark.kernels import hist_distances

    h, tv, bc = hist_distances(np.asarray(a), np.asarray(b))
    assert 0.0 <= h <= 1.0 + 1e-12
    assert 0.0 <= tv <= 1.0 + 1e-12
    assert 0.0 <= bc <= 1.0 + 1e-12
    # Hellinger–Bhattacharyya identity holds on every input
    assert abs(h * h - (1.0 - bc)) < 1e-9
    if len(a) > 0:
        hs, tvs, bcs = hist_distances(np.asarray(a), np.asarray(a))
        assert hs < 1e-9 and tvs < 1e-9 and abs(bcs - 1.0) < 1e-9


@given(
    st.lists(floats, min_size=1, max_size=200),
    st.floats(min_value=-1e3, max_value=1e3, allow_nan=False),
    st.floats(min_value=0.0, max_value=1e3, allow_nan=False),
)
@settings(max_examples=60, deadline=None)
def test_cusum_closed_form_matches_recursion_everywhere(xs, mu, k):
    from al_drift_detection_spark.kernels import cusum_2sided

    xs = np.asarray(xs)
    si, sd = cusum_2sided(xs, mu, k)
    ri = rd = 0.0
    for t, x in enumerate(xs):
        ri = max(0.0, ri + x - mu - k)
        rd = max(0.0, rd + mu - x - k)
        # closed form equals the textbook recursion at every step, and the
        # statistics are nonnegative by construction
        assert abs(si[t] - ri) < 1e-6 * max(1.0, abs(ri))
        assert abs(sd[t] - rd) < 1e-6 * max(1.0, abs(rd))
        assert si[t] >= 0.0 and sd[t] >= 0.0
