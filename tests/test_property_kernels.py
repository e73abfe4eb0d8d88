"""Property-based verification (hypothesis) of the incremental kernels
against their brute-force oracles — randomized streams explore the
push/pop and tie edge space far beyond the hand-written cases."""

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from nuclei_feature_extraction_spark.functions import kernels, oracle


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 6), st.integers(0, 50)),
        min_size=1, max_size=60,
    )
)
def test_hull_prefix_random_streams(pts):
    """Prefix hull == brute-force monotone chain at EVERY prefix for
    arbitrary nondecreasing-x integer streams (heavy tie probability,
    duplicates, collinearity all arise naturally)."""
    xs = np.array(sorted(p[0] for p in pts), dtype=np.float64)
    ys = np.array([p[1] for p in pts], dtype=np.float64)
    first = np.zeros(len(xs), dtype=bool)
    first[0] = True
    area, perim = kernels.hull_prefix(first, xs, ys)
    for t in range(len(xs)):
        wa, wp = oracle.hull_metrics_naive(xs[: t + 1], ys[: t + 1])
        np.testing.assert_allclose(area[t], wa, rtol=1e-9, atol=1e-9,
                                   err_msg=f"area prefix {t}")
        np.testing.assert_allclose(perim[t], wp, rtol=1e-9, atol=1e-9,
                                   err_msg=f"perim prefix {t}")


@settings(max_examples=40, deadline=None)
@given(
    st.lists(st.integers(0, 4), min_size=1, max_size=50),
    st.lists(st.integers(0, 3), min_size=1, max_size=50),
    st.integers(1, 3),
)
def test_xcooc_prefix_random_streams(a_list, b_list, d):
    n = min(len(a_list), len(b_list))
    a = np.array(a_list[:n], dtype=np.int64)
    b = np.array(b_list[:n], dtype=np.int64)
    conv = np.zeros(n, dtype=np.int64)
    first = np.zeros(n, dtype=bool)
    first[0] = True
    got = kernels.xcooc_prefix(conv, first, a, b, d)
    want = oracle.xcooc_prefix_naive(a, b, d)
    for s in oracle.XCOOC_STATS:
        np.testing.assert_allclose(
            got[s], want[s], rtol=1e-9, atol=1e-9, equal_nan=True,
            err_msg=f"stat={s} d={d}",
        )


@settings(max_examples=40, deadline=None)
@given(
    st.lists(st.integers(0, 3), min_size=1, max_size=60),
    st.integers(2, 5),
)
def test_runlen_prefix_random_streams(xs, g):
    x = np.array(xs, dtype=np.int64) % g
    conv = np.zeros(len(x), dtype=np.int64)
    first = np.zeros(len(x), dtype=bool)
    first[0] = True
    got = kernels.runlen_prefix(conv, first, x, g)
    want = oracle.runlen_prefix_naive(x, g)
    for s in oracle.RUNLEN_STATS:
        np.testing.assert_allclose(
            got[s], want[s], rtol=1e-9, atol=1e-9, equal_nan=True,
            err_msg=f"stat={s} G={g}",
        )


@settings(max_examples=30, deadline=None)
@given(
    st.lists(st.integers(0, 5), min_size=2, max_size=50),
    st.integers(1, 2),
    st.sampled_from([4, 8]),
)
def test_cooc_prefix_random_streams(xs, d, k):
    x = np.array(xs, dtype=np.int64) % k
    conv = np.zeros(len(x), dtype=np.int64)
    first = np.zeros(len(x), dtype=bool)
    first[0] = True
    got = kernels.cooc_prefix(conv, first, x, d, k)
    want = oracle.cooc_prefix_naive(x, d, k)
    for s in oracle.COOC_STATS:
        np.testing.assert_allclose(
            got[s], want[s], rtol=1e-9, atol=1e-9, equal_nan=True,
            err_msg=f"stat={s} d={d} k={k}",
        )


# ------------------------------------------------------- carried state
#
# One call over a whole stream == the same stream cut into arbitrary
# pieces (1-row pieces shorter than the lag included), the end state of
# each piece carried into the next. Stats that only read integer
# accumulators must match bit for bit; the rest at 1e-9. The one
# exception is the elliptic deviation: it reads 4th-order raw moments of
# the elapsed seconds through a cancelling central-moment conversion,
# which turns the last-bit difference of a carried sum (the scans' Kahan
# compensation is not part of the state) into ~1e-3; its accumulators
# are checked through the end state instead.

EXACT = {
    "cooc": {"correlation", "contrast", "dissimilarity", "asm",
             "sum_average", "sum_variance", "sum_of_squares",
             "difference_average", "difference_variance"},
    "xcooc": {"contrast", "dissimilarity", "mean_a", "mean_b",
              "correlation", "asm"},
    "runlen": {"n_runs", "rp", "mean_len", "lre", "rlvar", "gln", "hgre",
               "rln", "lrhge", "lrege"},
    "shape": set(),
}
ILL_CONDITIONED = {"elliptic_deviation"}


def _threaded(fn, starts, cuts, *cols):
    """Run ``fn(conv, first, *cols, state=...)`` piece by piece; a piece
    that opens a new conversation starts from the empty state."""
    conv = np.cumsum(starts) - 1
    bounds = [0, *sorted(set(cuts)), len(starts)]
    outs, state = [], {}
    for lo, hi in zip(bounds[:-1], bounds[1:]):
        first = starts[lo:hi].copy()
        if first[0]:
            state = {}
        first[0] = True
        out, state = fn(
            conv[lo:hi], first, *[c[lo:hi] for c in cols], state=state
        )
        outs.append(out)
    return {s: np.concatenate([o[s] for o in outs]) for s in outs[0]}, state


def _assert_carry_split(family, fn, starts, cuts, *cols):
    conv = np.cumsum(starts) - 1
    batch = fn(conv, starts, *cols)
    whole, whole_end = fn(conv, starts, *cols, state={})
    got, end = _threaded(fn, starts, cuts, *cols)
    # the empty state is the batch computation
    for s, want in batch.items():
        assert np.array_equal(whole[s], want, equal_nan=True), s
    assert set(got) == set(batch)
    for s, want in batch.items():
        if s in EXACT[family]:
            assert np.array_equal(got[s], want, equal_nan=True), s
        elif s not in ILL_CONDITIONED:
            np.testing.assert_allclose(
                got[s], want, rtol=1e-9, atol=1e-9, equal_nan=True,
                err_msg=s,
            )
    assert set(end) == set(whole_end)
    for name, want in whole_end.items():
        if name == "acc":
            np.testing.assert_allclose(end[name], want, rtol=1e-9,
                                       atol=1e-9, err_msg=name)
        else:
            assert np.array_equal(end[name], want), name


_split_stream = st.integers(2, 60).flatmap(
    lambda n: st.tuples(
        st.just(n),
        st.lists(st.integers(1, n - 1), max_size=n),   # cut points
        st.lists(st.integers(1, n - 1), max_size=3),   # conversation starts
    )
)


def _starts(n, conv_starts):
    starts = np.zeros(n, dtype=bool)
    starts[0] = True
    starts[conv_starts] = True
    return starts


@pytest.fixture(params=["compiled", "fallback"])
def kernel_backend(request, monkeypatch):
    """Both counter/scan backends: the compiled counter and the cython
    scans, and the pandas fallbacks that run without them."""
    if request.param == "fallback":
        monkeypatch.setattr(kernels, "_hull_clib", lambda: None)
        for name in ("_GROUP_CUMSUM", "_GROUP_CUMMAX", "_GROUP_CUMMIN"):
            monkeypatch.setattr(kernels, name, None)
    return request.param


@settings(max_examples=40, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(_split_stream, st.data(), st.integers(1, 2), st.sampled_from([4, 8]))
def test_cooc_carry_split(kernel_backend, split, data, d, k):
    n, cuts, conv_starts = split
    x = np.array(data.draw(st.lists(st.integers(0, k - 1), min_size=n,
                                    max_size=n)), dtype=np.int64)
    _assert_carry_split(
        "cooc", lambda conv, first, x, state=None:
        kernels.cooc_prefix(conv, first, x, d, k, state),
        _starts(n, conv_starts), cuts, x,
    )


@settings(max_examples=40, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(_split_stream, st.data(), st.integers(1, 2))
def test_xcooc_carry_split(kernel_backend, split, data, d):
    n, cuts, conv_starts = split
    ab = data.draw(st.lists(st.tuples(st.integers(0, 4), st.integers(0, 3)),
                            min_size=n, max_size=n))
    a = np.array([p[0] for p in ab], dtype=np.int64)
    b = np.array([p[1] for p in ab], dtype=np.int64)
    _assert_carry_split(
        "xcooc", lambda conv, first, a, b, state=None:
        kernels.xcooc_prefix(conv, first, a, b, d, state),
        _starts(n, conv_starts), cuts, a, b,
    )


@settings(max_examples=40, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(_split_stream, st.data(), st.integers(2, 5), st.integers(1, 4))
def test_runlen_carry_split(kernel_backend, split, data, g, rep):
    n, cuts, conv_starts = split
    levels = data.draw(st.lists(st.integers(0, g - 1), min_size=n,
                                max_size=n))
    # each level repeated ``rep`` times, so runs cross the cuts
    x = np.array(levels, dtype=np.int64)[np.arange(n) // rep]
    _assert_carry_split(
        "runlen", lambda conv, first, x, state=None:
        kernels.runlen_prefix(conv, first, x, g, state),
        _starts(n, conv_starts), cuts, x,
    )


@settings(max_examples=40, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(_split_stream, st.data())
def test_shape_moments_carry_split(kernel_backend, split, data):
    n, cuts, conv_starts = split
    gaps = data.draw(st.lists(st.floats(0.0, 3600.0), min_size=n,
                              max_size=n))
    ys = data.draw(st.lists(st.floats(0.0, 500.0), min_size=n, max_size=n))
    ts = 1.7e9 + np.cumsum(gaps)
    _assert_carry_split(
        "shape", kernels.shape_moments_prefix,
        _starts(n, conv_starts), cuts, ts, np.array(ys),
    )
