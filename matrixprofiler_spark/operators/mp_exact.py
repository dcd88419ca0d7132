"""Oracle-checkable exact-integer faces of the MP/MASS kernel family.

Each face computes the operator's semantics from EXACT int64 sliding sums /
dot products with the identical IEEE-754 expression tree an ANSI-SQL oracle
uses (matrixprofiler_spark/queries.py), so the driver's value-hash gate
matches bit-for-bit — the same design as the proven ``matrix_profile_w8``
face, generalized to w=64 over char-level token sequences.

Each face is a function of one doc's (or one doc pair's) tokens, run
through the package's Arrow adapter (``arrow_docs.map_docs``), which owns
the batch loop, the skipped docs and the output assembly.

Each face ALSO runs the real production kernel (STOMP / STAMP / SCRIMP /
MPX / MPXAB / contrast / MASS) on the same series inside the same task and
emits a per-row ``kernel_close`` boolean (|kernel - face| <= tol), so every
driver-green row simultaneously exercises the FFT/recurrence kernel: the
oracle verifies the semantics bitwise AND pins the kernel to them.

Semantics provenance (reference, reimplemented — no code copied):
* exclusion zone round(w*ez + eps), C rounding — src/stomp.cpp:29
* MPX exclusion +1, Pearson clip-at-1, ed = sqrt(2w(1-corr)) —
  src/mpx.cpp:883,981-984
* MPXAB sig>60 wild-sig guard — src/mpx.cpp:1089,1130
* contrast CP = (clip(MP_ab) - clip(MP_aa)) / sqrt(2w) — src/contrast.cpp:60-76
* MASS normalized / absolute / weighted distance algebra —
  src/mass.cpp:93-124, 64-90, 26-61
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..kernels.mp import c_round
from .arrow_docs import map_docs

_EPS = np.finfo(np.float64).eps


def _win_stats(xi: np.ndarray, w: int):
    """Exact int sliding sums -> (s, s2, mu, sd) with the oracle's
    expression tree: mu = s/w (w a power of two -> exact), sd =
    sqrt(s2/w - mu*mu)."""
    c = np.concatenate(([np.int64(0)], np.cumsum(xi)))
    c2 = np.concatenate(([np.int64(0)], np.cumsum(xi * xi)))
    s = c[w:] - c[:-w]
    s2 = c2[w:] - c2[:-w]
    mu = s / float(w)
    with np.errstate(invalid="ignore"):
        sd = np.sqrt(s2 / float(w) - mu * mu)
    return s, s2, mu, sd


def _dist_matrix(xi: np.ndarray, w: int, mu, sd):
    """All-pairs squared z-norm ED from exact int64 dot products, the
    oracle's 2*(w - (qt - w*mu_i*mu_j)/(sd_i*sd_j)) tree, clipped at 0."""
    wf = np.lib.stride_tricks.sliding_window_view(xi, w).astype(np.float64)
    qt = wf @ wf.T  # exact: integer-valued doubles below 2^53 (BLAS)
    with np.errstate(divide="ignore", invalid="ignore"):
        dist = 2 * (w - (qt - w * mu[:, None] * mu[None, :])
                    / (sd[:, None] * sd[None, :]))
    dist[dist < 0] = 0
    return dist, qt


def _self_join(xi: np.ndarray, w: int, exclusion: int):
    """Exact self-join in distance space: zero-variance windows masked as
    queries and targets, the |i - j| <= exclusion band masked, argmin
    (ties -> smallest offset), sqrt (src/stomp.cpp:126-138,165).

    Returns (dist, finite, nn, mp); ``finite`` marks the windows that have
    a candidate."""
    _, _, mu, sd = _win_stats(xi, w)
    ok = sd > 0
    dist, _ = _dist_matrix(xi, w, mu, sd)
    dist[~ok, :] = np.inf
    dist[:, ~ok] = np.inf
    idx = np.arange(dist.shape[0])
    dist[np.abs(idx[:, None] - idx[None, :]) <= exclusion] = np.inf
    finite = np.isfinite(dist).any(axis=1) & ok
    nn = np.argmin(dist, axis=1)
    return dist, finite, nn, np.sqrt(dist[idx, nn])


MP_LR_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("off", T.IntegerType(), False),
        T.StructField("mp", T.DoubleType(), False),
        T.StructField("nn_off", T.IntegerType(), False),
        T.StructField("lmp", T.DoubleType(), False),
        T.StructField("lnn", T.IntegerType(), False),
        T.StructField("rmp", T.DoubleType(), False),
        T.StructField("rnn", T.IntegerType(), False),
        T.StructField("kernel_close", T.BooleanType(), False),
    ]
)

MP_FACE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("off", T.IntegerType(), False),
        T.StructField("mp", T.DoubleType(), False),
        T.StructField("nn_off", T.IntegerType(), False),
        T.StructField("kernel_close", T.BooleanType(), False),
    ]
)


def mp_dist_face(tokens_df: DataFrame, w: int, ez: float = 0.5,
                 kernel: str = "stomp", left_right: bool = False,
                 tol: float = 1e-6) -> DataFrame:
    """STOMP/STAMP/SCRIMP self-join face: exact distance-space min with the
    C-round exclusion zone; optional left/right profiles (STOMP's extra
    surface, src/stomp.cpp:140-153). Runs the named real kernel alongside
    and flags |kernel_mp - face_mp| <= tol per row."""
    exclusion = c_round(w * ez + _EPS)
    schema = MP_LR_SCHEMA if left_right else MP_FACE_SCHEMA

    from ..kernels import scrimp, stamp, stomp

    kfn = {"stomp": stomp, "stamp": stamp, "scrimp": scrimp}[kernel]

    def run(toks):
        xi = np.asarray(toks, dtype=np.int64)
        if xi.size < 2 * w:
            return None
        dist, finite, nn, mp = _self_join(xi, w, exclusion)
        if not finite.any():
            return None

        kr = kfn(xi.astype(np.float64), w, exclusion_zone=ez)
        kv = np.asarray(kr["matrix_profile"], dtype=np.float64)
        with np.errstate(invalid="ignore"):
            close = np.abs(kv - mp) <= tol

        cols = {
            "off": np.flatnonzero(finite).astype(np.int32),
            "mp": mp[finite],
            "nn_off": nn[finite].astype(np.int32),
        }
        if left_right:
            # left neighbor = best over nn < off, right over nn > off
            # (src/stomp.cpp:140-153); -1 sentinels where no side
            # candidate exists (the reference's no-match index)
            idx = np.arange(mp.size)
            low = np.tril(np.ones_like(dist, dtype=bool), -1)
            dl = np.where(low, dist, np.inf)
            dr = np.where(low.T, dist, np.inf)
            lnn = np.argmin(dl, axis=1)
            rnn = np.argmin(dr, axis=1)
            lmp = np.sqrt(dl[idx, lnn])
            rmp = np.sqrt(dr[idx, rnn])
            lfin = np.isfinite(lmp)
            rfin = np.isfinite(rmp)
            cols["lmp"] = np.where(lfin, lmp, -1.0)[finite]
            cols["lnn"] = np.where(lfin, lnn, -1)[finite].astype(np.int32)
            cols["rmp"] = np.where(rfin, rmp, -1.0)[finite]
            cols["rnn"] = np.where(rfin, rnn, -1)[finite].astype(np.int32)
        cols["kernel_close"] = close[finite]
        return cols

    return map_docs(tokens_df, "doc_id", ["tokens"], run, schema)


def mp_pearson_face(tokens_df: DataFrame, w: int, ez: float = 0.5,
                    tol: float = 1e-8) -> DataFrame:
    """MPX self-join face: Pearson-space max with MPX's exclusion
    (round(w*ez+eps)+1, src/mpx.cpp:883), clip-at-1, ed = sqrt(2w(1-corr)).
    corr = ((qt - w*mu_i*mu_j) * sig_i) * sig_j with sig = muinvn's
    1/sqrt(s2 - mu*mu*w) (src/windowfunc.cpp:453-468)."""
    exclusion = c_round(w * ez + _EPS) + 1

    from ..kernels import mpx

    def run(toks):
        xi = np.asarray(toks, dtype=np.int64)
        n = xi.size
        if n < 2 * w:
            return None
        plen = n - w + 1
        s, s2, mu, sd = _win_stats(xi, w)
        ok = sd > 0
        wf = np.lib.stride_tricks.sliding_window_view(xi, w).astype(np.float64)
        qt = wf @ wf.T  # exact below 2^53 (BLAS)
        with np.errstate(divide="ignore", invalid="ignore"):
            sig = 1.0 / np.sqrt(s2 - mu * mu * w)
            corr = ((qt - w * mu[:, None] * mu[None, :])
                    * sig[:, None]) * sig[None, :]
        idx = np.arange(plen)
        corr[np.abs(idx[:, None] - idx[None, :]) < exclusion] = -np.inf
        corr[~ok, :] = -np.inf
        corr[:, ~ok] = -np.inf
        has = np.isfinite(corr).any(axis=1) & ok
        if not has.any():
            return None
        nn = np.argmax(corr, axis=1)
        best = corr[idx, nn]
        best = np.where(best > 1.0, 1.0, best)
        mp = np.sqrt(2 * w * (1.0 - best))

        kr = mpx(xi.astype(np.float64), w, exclusion_zone=ez)
        kv = np.asarray(kr["matrix_profile"], dtype=np.float64)
        close = np.abs(kv - mp) <= tol

        return {
            "off": idx[has].astype(np.int32),
            "mp": mp[has],
            "nn_off": nn[has].astype(np.int32),
            "kernel_close": close[has],
        }

    return map_docs(tokens_df, "doc_id", ["tokens"], run, MP_FACE_SCHEMA)


def pair_docs(tokens_df: DataFrame) -> DataFrame:
    """Pair consecutive docs (even id = A side, odd id = B side) JVM-side —
    one row per pair, grouped by a real pair key (no single-task fan-in)."""
    t = tokens_df.withColumn("did", F.col("doc_id").cast("long"))
    a = t.filter(F.col("did") % 2 == 0).select(
        F.col("did").alias("pa"), F.col("doc_id").alias("doc_a"),
        F.col("tokens").alias("tok_a"),
    )
    b = t.filter(F.col("did") % 2 == 1).select(
        (F.col("did") - 1).alias("pa"), F.col("doc_id").alias("doc_b"),
        F.col("tokens").alias("tok_b"),
    )
    return a.join(b, "pa").select(
        F.concat_ws("|", "doc_a", "doc_b").alias("pair_id"), "tok_a", "tok_b"
    )


AB_SCHEMA = T.StructType(
    [
        T.StructField("pair_id", T.StringType(), False),
        T.StructField("off", T.IntegerType(), False),
        T.StructField("mp_a", T.DoubleType(), False),
        T.StructField("pi_a", T.IntegerType(), False),
        T.StructField("kernel_close", T.BooleanType(), False),
    ]
)


def mpxab_face(tokens_df: DataFrame, w: int, tol: float = 1e-8) -> DataFrame:
    """MPX AB-join face (A-side profile): max Pearson over every B window,
    sig>60 wild-sig guard (src/mpx.cpp:1089,1130), clip-at-1, ed convert.
    pi_a is the 1-based best B offset (reference index convention)."""

    from ..kernels import mpxab

    def run(ta, tb):
        ai = np.asarray(ta, dtype=np.int64)
        bi = np.asarray(tb, dtype=np.int64)
        if ai.size < 2 * w or bi.size < 2 * w:
            return None
        sa, sa2, mu_a, _ = _win_stats(ai, w)
        sb, sb2, mu_b, _ = _win_stats(bi, w)
        with np.errstate(divide="ignore", invalid="ignore"):
            sig_a = 1.0 / np.sqrt(sa2 - mu_a * mu_a * w)
            sig_b = 1.0 / np.sqrt(sb2 - mu_b * mu_b * w)
        wa = np.lib.stride_tricks.sliding_window_view(ai, w).astype(np.float64)
        wb = np.lib.stride_tricks.sliding_window_view(bi, w).astype(np.float64)
        qt = wa @ wb.T  # exact below 2^53 (BLAS), plen_a x plen_b
        with np.errstate(invalid="ignore"):
            corr = ((qt - w * mu_a[:, None] * mu_b[None, :])
                    * sig_a[:, None]) * sig_b[None, :]
        guard = (sig_a[:, None] > 60) | (sig_b[None, :] > 60)
        corr[guard] = -np.inf
        corr[~np.isfinite(corr)] = -np.inf
        has = np.isfinite(corr).any(axis=1)
        if not has.any():
            return None
        idx = np.arange(corr.shape[0])
        nn = np.argmax(corr, axis=1)
        best = corr[idx, nn]
        best = np.where(best > 1.0, 1.0, best)
        mp = np.sqrt(2 * w * (1.0 - best))

        kr = mpxab(ai.astype(np.float64), bi.astype(np.float64), w)
        kv = np.asarray(kr["matrix_profile"], dtype=np.float64)
        close = np.abs(kv - mp) <= tol

        return {
            "off": idx[has].astype(np.int32),
            "mp_a": mp[has],
            "pi_a": (nn[has] + 1).astype(np.int32),
            "kernel_close": close[has],
        }

    return map_docs(pair_docs(tokens_df), "pair_id", ["tok_a", "tok_b"], run,
                    AB_SCHEMA)


CP_SCHEMA = T.StructType(
    [
        T.StructField("pair_id", T.StringType(), False),
        T.StructField("off", T.IntegerType(), False),
        T.StructField("cp", T.DoubleType(), False),
        T.StructField("plato_idx", T.IntegerType(), False),
        T.StructField("kernel_close", T.BooleanType(), False),
    ]
)


def contrast_face(tokens_df: DataFrame, w: int, tol: float = 1e-8) -> DataFrame:
    """Contrast-profile face (src/contrast.cpp:22-88): even doc = negative,
    odd doc = positive; CP = (clip10(MP_ab) - clip10(MP_aa)) / sqrt(2w),
    clipped >= 0, plus the plato (argmax) index. Missing candidates keep
    the kernel's corr = -1 seed."""
    exclusion = c_round(w * 0.5 + _EPS) + 1
    clip = float(np.sqrt(2 * w))  # 10.0 exactly at w=50

    from ..kernels import contrast

    def run(tneg, tpos):
        ni = np.asarray(tneg, dtype=np.int64)
        pi_ = np.asarray(tpos, dtype=np.int64)
        if ni.size < 2 * w or pi_.size < 2 * w:
            return None
        plen = pi_.size - w + 1
        sp, sp2, mu_p, sd_p = _win_stats(pi_, w)
        sn, sn2, mu_n, _ = _win_stats(ni, w)
        with np.errstate(divide="ignore", invalid="ignore"):
            sig_p = 1.0 / np.sqrt(sp2 - mu_p * mu_p * w)
            sig_n = 1.0 / np.sqrt(sn2 - mu_n * mu_n * w)
        wp = np.lib.stride_tricks.sliding_window_view(pi_, w).astype(np.float64)
        wn = np.lib.stride_tricks.sliding_window_view(ni, w).astype(np.float64)
        ok = sd_p > 0

        # self-join (AA) in Pearson space, MPX exclusion
        qt_aa = wp @ wp.T
        with np.errstate(invalid="ignore", divide="ignore"):
            c_aa = ((qt_aa - w * mu_p[:, None] * mu_p[None, :])
                    * sig_p[:, None]) * sig_p[None, :]
        idx = np.arange(plen)
        c_aa[np.abs(idx[:, None] - idx[None, :]) < exclusion] = -np.inf
        c_aa[:, ~ok] = -np.inf
        best_aa = np.max(c_aa, axis=1, initial=-1.0)

        # AB join (pos vs neg) with the sig>60 guard
        qt_ab = wp @ wn.T
        with np.errstate(invalid="ignore"):
            c_ab = ((qt_ab - w * mu_p[:, None] * mu_n[None, :])
                    * sig_p[:, None]) * sig_n[None, :]
        c_ab[(sig_p[:, None] > 60) | (sig_n[None, :] > 60)] = -np.inf
        c_ab[~np.isfinite(c_ab)] = -np.inf
        best_ab = np.max(c_ab, axis=1, initial=-1.0)
        best_ab[~np.isfinite(best_ab)] = -1.0

        ed_aa = np.sqrt(2 * w * (1.0 - np.where(best_aa > 1.0, 1.0, best_aa)))
        ed_ab = np.sqrt(2 * w * (1.0 - np.where(best_ab > 1.0, 1.0, best_ab)))
        ed_aa = np.where(ed_aa > clip, clip, ed_aa)
        ed_ab = np.where(ed_ab > clip, clip, ed_ab)
        cp = (ed_ab - ed_aa) / clip
        cp[cp < 0] = 0
        if not ok.any():
            return None
        plato = int(np.argmax(np.where(ok, cp, -np.inf))) + 1

        kr = contrast(ni.astype(np.float64), pi_.astype(np.float64), w)
        kv = np.asarray(kr["contrast_profile"], dtype=np.float64)
        close = np.abs(kv - cp) <= tol

        return {
            "off": idx[ok].astype(np.int32),
            "cp": cp[ok],
            "plato_idx": np.full(int(ok.sum()), plato, dtype=np.int32),
            "kernel_close": close[ok],
        }

    return map_docs(pair_docs(tokens_df), "pair_id", ["tok_a", "tok_b"], run,
                    CP_SCHEMA)


MASS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("off", T.IntegerType(), False),
        T.StructField("dist", T.DoubleType(), False),
        T.StructField("kernel_close", T.BooleanType(), False),
    ]
)


def weights_for(w: int) -> np.ndarray:
    """Deterministic dyadic weight vector 1 + (k % 4) * 0.25 — exact in
    both engines, so weighted sums of int tokens are order-free exact."""
    return 1.0 + (np.arange(w) % 4) * 0.25


def mass_face(tokens_df: DataFrame, w: int, kind: str = "normalized",
              tol: float = 1e-6) -> DataFrame:
    """MASS distance-profile face (query window at offset 0) in three
    flavors: z-normalized (src/mass.cpp:93-124), absolute (64-90: exact
    int sumx2 - 2qt + sumy2), weighted (26-61 + 476-532: the same algebra
    from exact weighted integer sums). Each runs the real FFT kernel
    alongside (mass3 / mass_absolute / mass_weighted) for kernel_close."""

    from ..kernels import mass, mass_pre, mass_pre_abs, mass_pre_weighted

    def run(toks):
        xi = np.asarray(toks, dtype=np.int64)
        n = xi.size
        if n < 2 * w:
            return None
        plen = n - w + 1
        s, s2, mu, sd = _win_stats(xi, w)
        windows = np.lib.stride_tricks.sliding_window_view(xi, w).astype(np.float64)
        q = xi[:w]
        qt = windows @ q.astype(np.float64)  # exact below 2^53 (BLAS)
        xf = xi.astype(np.float64)

        if kind == "normalized":
            if not sd[0] > 0:
                return None
            ok = sd > 0
            with np.errstate(divide="ignore", invalid="ignore"):
                dist = 2 * (w - (qt - w * mu[0] * mu) / (sd[0] * sd))
            dist[dist < 0] = 0
            pre = mass_pre(xf, w)
            kv = mass(pre, xf, index=1)["distance_profile"]
        elif kind == "absolute":
            ok = np.ones(plen, dtype=bool)
            dist = (s2[0] + s2 - 2 * qt).astype(np.float64)
            pre = mass_pre_abs(xf, w)
            kv = mass(pre, xf, index=1)["distance_profile"]
        elif kind == "weighted":
            if not sd[0] > 0:
                return None
            ok = sd > 0
            wv = weights_for(w)
            sum_w = float(np.sum(wv))  # exact dyadic
            # exact weighted sliding sums (all terms exact dyadic)
            swx = windows @ wv
            swx2 = (windows * windows) @ wv
            swqx = windows @ (wv * q)
            swq = float(wv @ q)
            swq2 = float(wv @ (q * q))
            mu_q, sd_q = mu[0], sd[0]
            sumwy = (swq - mu_q * sum_w) / sd_q
            sumwy2 = (swq2 - 2 * mu_q * swq + mu_q * mu_q * sum_w) / (sd_q * sd_q)
            with np.errstate(divide="ignore", invalid="ignore"):
                data_pre = (swx2 - 2 * swx * mu + sum_w * (mu * mu)) / (sd * sd)
                z = (swqx - mu_q * swx) / sd_q
                dist = data_pre - 2 * (z - sumwy * mu) / sd + sumwy2
            dist[dist < 0] = 0
            pre = mass_pre_weighted(xf, w, wv)
            kv = mass(pre, xf, index=1)["distance_profile"]
        else:
            raise ValueError(kind)

        kv = np.asarray(kv, dtype=np.float64)
        close = np.abs(kv - dist) <= tol
        return {
            "off": np.arange(plen, dtype=np.int32)[ok],
            "dist": dist[ok],
            "kernel_close": close[ok],
        }

    return map_docs(tokens_df, "doc_id", ["tokens"], run, MASS_SCHEMA)


MOV_EXP_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("off", T.IntegerType(), False),
        T.StructField("sum_weighted", T.DoubleType(), False),
        T.StructField("sum_fading", T.DoubleType(), False),
        T.StructField("mean_weighted", T.DoubleType(), False),
        T.StructField("mean_fading", T.DoubleType(), False),
        T.StructField("var_weighted", T.DoubleType(), False),
        T.StructField("var_fading", T.DoubleType(), False),
    ]
)


def mov_exp_face(tokens_df: DataFrame, w: int, eps: float = 0.90) -> DataFrame:
    """The REAL weighted/fading exponential window kernels
    (src/windowfunc.cpp:286-450) over char tokens. The oracle replays the
    identical recurrence (s = s*alpha + x; eviction s - x_old*alpha^(w-1))
    step by step in a recursive CTE with alpha / alpha^(w-1) embedded as
    full-precision literals — the one kernel family whose sequential FP
    path IS SQL-expressible, so the driver verifies the production kernel
    itself bitwise."""

    from ..kernels import movmean, movsum, movvar

    def run(toks):
        x = np.asarray(toks, dtype=np.float64)
        if x.size < w:
            return None
        return {
            "off": np.arange(x.size - w + 1, dtype=np.int32),
            "sum_weighted": movsum(x, w, "weighted", eps),
            "sum_fading": movsum(x, w, "fading", eps),
            "mean_weighted": movmean(x, w, "weighted", eps),
            "mean_fading": movmean(x, w, "fading", eps),
            "var_weighted": movvar(x, w, "weighted", eps),
            "var_fading": movvar(x, w, "fading", eps),
        }

    return map_docs(tokens_df, "doc_id", ["tokens"], run, MOV_EXP_SCHEMA)
