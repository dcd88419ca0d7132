"""Long-format sliding-window statistics and similarity-join operators over
the tokens table — the oracle-checkable query surface.

Every operator is a per-doc function of the doc's tokens run through the
package's one Arrow adapter (``arrow_docs.map_docs``): the real numpy
kernels from matrixprofiler_spark.kernels per doc; no per-row Python.

Exactness: on integer token data the kernels' sliding sums are exact int64,
and with w a power of two the derived mean/std/sig are computed by the same
IEEE double expression an ANSI-SQL oracle uses, so results are bit-identical
to DuckDB — the driver's value-hash comparison passes without rounding.

Batch assembly: the adapter reads each batch's tokens as zero-copy views
and emits ONE RecordBatch per Arrow batch, doc_id taken from the input
key array and every other column one concatenate of the per-doc arrays.
A one-DataFrame-per-doc shape paid ~1 ms of pandas construction per doc —
more than the kernel itself on the corpus's ~55-token median docs. Values
are bit-identical: the same per-doc arrays are concatenated, never
recomputed.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..kernels.window import movmax, movmean, movmin, movstd, movsum_ogita, muinvn
from .arrow_docs import map_docs
from .mp_exact import _self_join, _win_stats

SLIDING_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("off", T.IntegerType(), False),
        T.StructField("sum_v", T.LongType(), False),
        T.StructField("sumsq", T.LongType(), False),
        T.StructField("mean", T.DoubleType(), False),
        T.StructField("std", T.DoubleType(), False),
        T.StructField("sig", T.DoubleType(), True),
        T.StructField("min_v", T.IntegerType(), False),
        T.StructField("max_v", T.IntegerType(), False),
    ]
)


def sliding_stats(tokens_df: DataFrame, w: int) -> DataFrame:
    """Per-window trailing stats, one row per (doc, window-start offset).

    mov_sum/mov_mean/mov_std/mov_min/mov_max/muinvn-sig per
    src/windowfunc.cpp semantics (result aligned to window start)."""

    def kernel(toks):
        x = np.asarray(toks, dtype=np.float64)
        n = x.size
        if n < w:
            return None
        return {
            "off": np.arange(n - w + 1, dtype=np.int32),
            "sum_v": movsum_ogita(x, w).astype(np.int64),
            "sumsq": movsum_ogita(x * x, w).astype(np.int64),
            "mean": movmean(x, w, "ogita"),
            "std": movstd(x, w),
            "sig": muinvn(x, w)["sig"],
            "min_v": movmin(x, w).astype(np.int32),
            "max_v": movmax(x, w).astype(np.int32),
        }

    return map_docs(tokens_df, "doc_id", ["tokens"], kernel, SLIDING_SCHEMA)


ZC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("off", T.IntegerType(), False),
        T.StructField("crossings", T.IntegerType(), False),
    ]
)


def zero_crossings(tokens_df: DataFrame, w: int) -> DataFrame:
    """zero_crossing windows (src/windowfunc.cpp:538-560) per doc."""
    from ..kernels.window import zero_crossing

    def kernel(toks):
        x = np.asarray(toks, dtype=np.float64)
        if x.size < w:
            return None
        zc = zero_crossing(x, w)
        return {"off": np.arange(zc.size, dtype=np.int32),
                "crossings": zc.astype(np.int32)}

    return map_docs(tokens_df, "doc_id", ["tokens"], kernel, ZC_SCHEMA)


DIST_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("off", T.IntegerType(), False),
        T.StructField("dist", T.DoubleType(), False),
    ]
)


def mass_profile_exact(tokens_df: DataFrame, w: int, query_off: int = 0) -> DataFrame:
    """Distance profile of the window at ``query_off`` vs every window of
    the same doc — MASS semantics (squared z-norm ED, src/mass.cpp:115)
    computed with EXACT integer dot products instead of FFT so an ANSI-SQL
    oracle reproduces it bit-for-bit. (The FFT kernels are golden-tested in
    tests/test_kernels_mass.py; this operator is the oracle-checkable face
    of the same math.) Zero-variance windows are omitted, mirroring the
    sd < eps -> +Inf masking (src/stomp.cpp:133-138)."""

    def kernel(toks):
        xi = np.asarray(toks, dtype=np.int64)
        n = xi.size
        if n < w or n < query_off + w:
            return None
        plen = n - w + 1
        _, _, mu, sd = _win_stats(xi, w)
        q = xi[query_off : query_off + w]
        # exact sliding dot products: w * max_tok^2 << 2^53, so
        # float64 BLAS returns bit-identical integer-valued doubles
        windows = np.lib.stride_tricks.sliding_window_view(xi, w)
        qt = windows.astype(np.float64) @ q.astype(np.float64)
        mu_q, sd_q = mu[query_off], sd[query_off]
        if not sd_q > 0:
            return None
        ok = sd > 0
        with np.errstate(divide="ignore", invalid="ignore"):
            dist = 2 * (w - (qt - w * mu_q * mu) / (sd_q * sd))
        dist[dist < 0] = 0  # clip, src/mass.cpp:116
        return {"off": np.arange(plen, dtype=np.int32)[ok], "dist": dist[ok]}

    return map_docs(tokens_df, "doc_id", ["tokens"], kernel, DIST_SCHEMA)


MP_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("off", T.IntegerType(), False),
        T.StructField("mp", T.DoubleType(), False),
        T.StructField("nn_off", T.IntegerType(), False),
    ]
)


def matrix_profile_exact(tokens_df: DataFrame, w: int, ez: float = 0.5) -> DataFrame:
    """Self-join matrix profile per doc with STOMP's exclusion zone
    round(w*ez + eps) (src/stomp.cpp:29,126-131), squared distances kept in
    the exact-integer form of ``mass_profile_exact`` and min-reduced; final
    sqrt as in src/stomp.cpp:165. nn_off is the 0-based argmin (ties -> the
    smallest offset, matching a deterministic ORDER BY dist, off oracle).

    Zero-variance windows are dropped both as queries and as targets."""
    from ..kernels.mp import c_round

    exclusion = c_round(w * ez + np.finfo(np.float64).eps)

    def kernel(toks):
        xi = np.asarray(toks, dtype=np.int64)
        if xi.size < 2 * w:
            return None
        _, finite, nn, mp = _self_join(xi, w, exclusion)
        if not finite.any():
            return None
        return {"off": np.flatnonzero(finite).astype(np.int32),
                "mp": mp[finite], "nn_off": nn[finite].astype(np.int32)}

    return map_docs(tokens_df, "doc_id", ["tokens"], kernel, MP_SCHEMA)
