"""Property-based tests (hypothesis): codec roundtrips on adversarial bit
patterns, the provable integer fast path of the Ogita moving sum, and the
C-rounding exclusion-zone helper."""

from __future__ import annotations

import math

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from matrixprofiler_spark.codecs import (
    dod_decode,
    dod_encode,
    gorilla_decode,
    gorilla_encode,
    gorilla_encode_many,
)
from matrixprofiler_spark.kernels.mp import c_round
from matrixprofiler_spark.kernels.window import movsum_ogita

finite_or_special = st.one_of(
    st.floats(allow_nan=True, allow_infinity=True, width=64),
    st.sampled_from([0.0, -0.0, np.inf, -np.inf, 5e-324, -5e-324]),
)


@settings(max_examples=150, deadline=None)
@given(st.lists(finite_or_special, min_size=0, max_size=64))
def test_gorilla_roundtrip_any_bits(vals):
    arr = np.array(vals, dtype=np.float64)
    out = gorilla_decode(gorilla_encode(arr))
    # bit-level equality (NaN payloads and signed zeros included)
    np.testing.assert_array_equal(arr.view(np.uint64), out.view(np.uint64))


@settings(max_examples=50, deadline=None)
@given(st.lists(st.lists(finite_or_special, min_size=0, max_size=24),
                min_size=1, max_size=8))
def test_gorilla_many_matches_single(series):
    arrs = [np.array(s, dtype=np.float64) for s in series]
    many = gorilla_encode_many(arrs)
    for a, blob in zip(arrs, many):
        assert blob == gorilla_encode(a)


@settings(max_examples=150, deadline=None)
@given(st.lists(st.integers(min_value=-(2**40), max_value=2**40),
                min_size=0, max_size=64))
def test_dod_roundtrip(vals):
    arr = np.array(vals, dtype=np.int64)
    np.testing.assert_array_equal(dod_decode(dod_encode(arr)), arr)


@settings(max_examples=50, deadline=None)
@given(st.lists(st.lists(st.integers(min_value=-(2**63), max_value=2**63 - 1),
                         min_size=0, max_size=24),
                min_size=1, max_size=8))
def test_dod_many_matches_single(series):
    from matrixprofiler_spark.codecs import dod_encode_many

    arrs = [np.array(s, dtype=np.int64) for s in series]
    many = dod_encode_many(arrs)
    for a, blob in zip(arrs, many):
        assert blob == dod_encode(a)
        np.testing.assert_array_equal(dod_decode(blob), a)


@settings(max_examples=100, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=50256), min_size=2, max_size=200),
    st.integers(min_value=1, max_value=50),
)
def test_movsum_integer_fast_path_exact(vals, w):
    """The vectorized int64 sliding sum must be bit-identical to the
    sequential Ogita compensated loop on integer-valued doubles (the
    provable fast path the 100-TB kernels rely on)."""
    if w > len(vals):
        w = len(vals)
    x = np.array(vals, dtype=np.float64)
    fast = movsum_ogita(x, w)

    # force the sequential branch by going through the float path directly
    xl = x.tolist()
    n = len(xl)
    out = np.empty(n - w + 1)
    accum = xl[0]
    resid = 0.0
    for i in range(1, w):
        m = xl[i]
        p = accum
        accum = accum + m
        q = accum - p
        resid = resid + ((p - (accum - q)) + (m - q))
    out[0] = accum + resid
    for i in range(w, n):
        m = xl[i - w]
        nv = xl[i]
        p = accum - m
        q = p - accum
        r = resid + ((accum - (p - q)) - (m + q))
        accum = p + nv
        t = accum - p
        resid = r + ((p - (accum - t)) + (nv - t))
        out[i - w + 1] = accum + resid
    np.testing.assert_array_equal(fast, out)


@settings(max_examples=200, deadline=None)
@given(st.integers(min_value=1, max_value=10000),
       st.sampled_from([0.25, 0.5, 0.75, 1.0]))
def test_c_round_matches_half_away_from_zero(w, ez):
    v = w * ez + np.finfo(np.float64).eps
    # C round(): half away from zero for positive args
    frac = v - math.floor(v)
    expect = math.floor(v) + (1 if frac >= 0.5 else 0)
    assert c_round(v) == expect
