"""Scalar / vector math kernels (matrixprofiler src/mathtools.cpp, R/math.R).

Sequential-sum helpers are used wherever the reference accumulates
left-to-right in plain double (Rcpp sugar / std::accumulate); numpy's
pairwise ``np.sum`` would round differently.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

_F64 = np.float64


def _as_f64(x) -> np.ndarray:
    return np.ascontiguousarray(x, dtype=_F64)


def seqsum(a) -> float:
    """Strictly sequential left-to-right double sum (std::accumulate /
    std::inner_product semantics — plain double accumulator)."""
    a = _as_f64(a)
    if a.size == 0:
        return 0.0
    return float(np.cumsum(a)[-1])


def _lsum_ld(a) -> np.longdouble:
    """Long-double sequential sum. Rcpp sugar sum()/mean() and R's own
    sum() accumulate in LDOUBLE (x87 80-bit on linux/x86-64); replicate
    with np.longdouble so znorm/std match the goldens bit-for-bit."""
    a = np.asarray(a)
    if a.size == 0:
        return np.longdouble(0.0)
    return np.cumsum(a.astype(np.longdouble))[-1]


def seqmean(a) -> float:
    """Rcpp sugar mean(): long-double sum, divide in long double, then
    narrow to double (Rcpp sugar mean.h semantics)."""
    a = _as_f64(a)
    return float(_lsum_ld(a) / a.size) if a.size else float("nan")


def inner_product(a, b) -> float:
    """std::inner_product with 0.0 init (src/mathtools.cpp:207-211):
    sequential sum of elementwise products."""
    a = _as_f64(a)
    b = _as_f64(b)
    return seqsum(a * b)


def sum_of_squares(a) -> float:
    """src/mathtools.cpp:213-218."""
    a = _as_f64(a)
    return seqsum(a * a)


def std(data, na_rm: bool = False) -> float:
    """Population SD (÷n), NA propagates unless na_rm
    (src/mathtools.cpp:39-55)."""
    x = _as_f64(data)
    if np.isnan(x).any():
        if not na_rm:
            return float("nan")
        x = x[~np.isnan(x)]
    m = seqmean(x)
    d = x - m
    # Rcpp sugar sum() accumulates in plain double (unlike sugar mean())
    return float(np.sqrt(seqsum(d * d) / x.size))


def znorm(data) -> np.ndarray:
    """z-normalize with population SD; returns only (x - mean) when
    sd <= 0.01 or NA — non-standard branch that must be replicated
    (src/mathtools.cpp:119-128)."""
    x = _as_f64(data)
    m = seqmean(x)
    d = x - m
    dev = float(np.sqrt(seqsum(d * d) / x.size))
    if np.isnan(dev) or dev <= 0.01:
        return d
    return d / dev


def normalize(data, min_lim: float = 0.0, max_lim: float = 1.0) -> np.ndarray:
    """Affine rescale to [min_lim, max_lim], clipped
    (src/mathtools.cpp:131-143)."""
    x = _as_f64(data)
    min_val = float(np.min(x))
    max_val = float(np.max(x))
    a = (max_lim - min_lim) / (max_val - min_val)
    b = max_lim - a * max_val
    out = a * x + b
    out[out < min_lim] = min_lim
    out[out > max_lim] = max_lim
    return out


def mode(x) -> int:
    """Most frequent integer; ties resolved by first appearance order,
    matching unique()/which_max (src/mathtools.cpp:101-107)."""
    arr = np.asarray(x)
    ux = pd.unique(arr)
    codes = pd.Series(arr).map({v: i for i, v in enumerate(ux)}).to_numpy()
    counts = np.bincount(codes, minlength=len(ux))
    return int(ux[int(np.argmax(counts))])


def complexity(data) -> float:
    """CID complexity index sqrt(sum(diff(x)^2)) (R/math.R:179-181).

    R's sum() accumulates in long double; replicate with np.longdouble."""
    x = _as_f64(data)
    d = np.diff(x)
    s = float(np.cumsum((d * d).astype(np.longdouble))[-1]) if d.size else 0.0
    return float(np.sqrt(s))


def binary_split(n: int) -> np.ndarray:
    """Breadth-first binary-split visit order of 1..n
    (src/mathtools.cpp:146-188). 1-based values, as the reference returns."""
    from collections import deque

    n = int(n)
    idxs = np.empty(n, dtype=np.int32)
    idxs[0] = 1
    lb_list: deque[int] = deque([2])
    ub_list: deque[int] = deque([n])
    for i in range(1, n):
        lb = lb_list.popleft()
        ub = ub_list.popleft()
        mid = (lb + ub) // 2
        idxs[i] = mid
        if lb == ub:
            continue
        if lb < mid:
            lb_list.append(lb)
            ub_list.append(mid - 1)
        if ub > mid:
            lb_list.append(mid + 1)
            ub_list.append(ub)
    return idxs


def ed_corr(data, window_size: int) -> np.ndarray:
    """z-norm ED -> Pearson: (2w - d^2) / (2w) (src/mathtools.cpp:191-196)."""
    x = _as_f64(data)
    w = int(window_size)
    return (2 * w - x * x) / (2 * w)


def corr_ed(data, window_size: int) -> np.ndarray:
    """Pearson -> z-norm ED with clip-at-1 (src/mathtools.cpp:199-204)."""
    x = _as_f64(data)
    w = int(window_size)
    clipped = np.where(x > 1, 1.0, x)
    return np.sqrt(2 * w * (1 - clipped))
