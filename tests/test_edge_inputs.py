"""Edge-input hardening: degenerate docs (tiny, constant, empty-ish) must
flow through every operator without crashing and with correct values."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from matrixprofiler_spark.operators import mp_exact, windows
from matrixprofiler_spark.operators.arrow_docs import map_docs
from matrixprofiler_spark.operators.rollup import (
    finest_rollup,
    gap_fill,
    tier_rollup,
    window_stats,
    with_derived_stats,
)
from matrixprofiler_spark.operators.mp_ops import (
    matrix_profile_blobs,
    matrix_profile_distributed,
)
from matrixprofiler_spark.sources.tokens import TOKENS_SCHEMA


@pytest.fixture(scope="module")
def edge_tokens(spark):
    rows = [
        ("tiny", [7], 1, "web"),                      # single token
        ("two", [1, 2], 2, "web"),                    # below any window
        ("const", [5] * 400, 400, "books"),           # zero variance everywhere
        ("ramp", list(range(100)), 100, "code"),      # strictly increasing
        ("big_vals", [50256] * 61, 61, "wiki"),       # max vocab id
        ("alt", [0, 50256] * 50, 100, "web"),         # max amplitude
    ]
    return spark.createDataFrame(rows, schema=TOKENS_SCHEMA).cache()


def test_rollup_edge(spark, edge_tokens):
    out = with_derived_stats(tier_rollup(edge_tokens)).collect()
    by = {}
    for r in out:
        by.setdefault((r.doc_id, r.tier), []).append(r)
    # single-token doc: one bucket, cnt 1, mean == value, std == 0
    t = by[("tiny", "1m")][0]
    assert t.cnt == 1 and t.mean == 7.0 and t.std == 0.0
    # constant doc: std exactly 0 in every bucket of every tier
    for tier in ("1m", "1h", "1d"):
        for r in by[("const", tier)]:
            assert r.std == 0.0 and r.mean == 5.0
    # max-amplitude values: sums exact
    a = by[("alt", "1m")]
    assert sum(r.sum_v for r in a) == 50256 * 50


def test_window_stats_edge(spark, edge_tokens):
    ws = {r.doc_id: r for r in window_stats(edge_tokens, w=60).collect()}
    assert ws["tiny"].n_windows == 0 and ws["tiny"].movmean_blob is None
    assert ws["two"].n_windows == 0
    from matrixprofiler_spark.codecs import gorilla_decode

    const = ws["const"]
    assert const.n_windows == 400 - 60 + 1
    mm = gorilla_decode(bytes(const.movmean_blob))
    assert (mm == 5.0).all()
    ms = gorilla_decode(bytes(const.movstd_blob))
    assert (ms == 0.0).all()


def test_matrix_profile_edge(spark, edge_tokens):
    res = {r.doc_id: r for r in matrix_profile_blobs(edge_tokens, w=50).collect()}
    # too-short docs are emitted with empty profiles, not dropped
    assert res["tiny"].profile_len == 0
    # constant doc: all windows zero-variance -> MPX never updates any lane
    # (sig = inf -> c_cmp = nan -> comparisons false), so every value stays
    # at corr -1 == distance sqrt(4w) with index -1 — exactly the reference
    # mpx_rcpp behavior (it has no sd<eps masking, unlike stomp).
    from matrixprofiler_spark.codecs import dod_decode, gorilla_decode

    const = res["const"]
    mp = gorilla_decode(bytes(const.mp_blob))
    np.testing.assert_allclose(mp, np.sqrt(4 * 50), rtol=0, atol=0)
    pi = dod_decode(bytes(const.pi_blob))
    assert (pi == -1).all()


def test_gap_fill_edge(spark, edge_tokens):
    from matrixprofiler_spark.operators.rollup import spine_from_tokens

    m1 = finest_rollup(edge_tokens)
    # drop every bucket of one doc except bucket 0 — including the TRAILING
    # buckets, which a data-derived spine cannot see; the n_tok-derived
    # spine restores them all
    holey = m1.filter((F.col("doc_id") != "const") | (F.col("bucket") == 0))
    filled = gap_fill(holey, spine=spine_from_tokens(edge_tokens, "1m"))
    const_rows = filled.filter(F.col("doc_id") == "const").collect()
    assert len(const_rows) == 400 // 60 + 1
    assert sum(r.filled for r in const_rows) == len(const_rows) - 1


# Every operator on the Arrow adapter: (run, declared schema, pair face).
# The pair faces pair doc 2k with 2k+1, so they run on numbered doc ids:
# "0|1" is the (tiny, two) pair.
_DIST_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("off", T.IntegerType(), False),
    T.StructField("mp", T.DoubleType(), True),
    T.StructField("nn_off", T.IntegerType(), True),
])
ADAPTER_OPS = {
    "sliding_stats": (lambda t: windows.sliding_stats(t, 8),
                      windows.SLIDING_SCHEMA, False),
    "zero_crossings": (lambda t: windows.zero_crossings(t, 16),
                       windows.ZC_SCHEMA, False),
    "mass_profile_exact": (lambda t: windows.mass_profile_exact(t, 8, 3),
                           windows.DIST_SCHEMA, False),
    "matrix_profile_exact": (lambda t: windows.matrix_profile_exact(t, 8),
                             windows.MP_SCHEMA, False),
    "mp_dist_face": (lambda t: mp_exact.mp_dist_face(t, 8, left_right=True),
                     mp_exact.MP_LR_SCHEMA, False),
    "mp_pearson_face": (lambda t: mp_exact.mp_pearson_face(t, 8),
                        mp_exact.MP_FACE_SCHEMA, False),
    "mpxab_face": (lambda t: mp_exact.mpxab_face(t, 8),
                   mp_exact.AB_SCHEMA, True),
    "contrast_face": (lambda t: mp_exact.contrast_face(t, 8),
                      mp_exact.CP_SCHEMA, True),
    "mass_face": (lambda t: mp_exact.mass_face(t, 8, kind="weighted"),
                  mp_exact.MASS_SCHEMA, False),
    "mov_exp_face": (lambda t: mp_exact.mov_exp_face(t, 8),
                     mp_exact.MOV_EXP_SCHEMA, False),
    "matrix_profile_distributed": (
        lambda t: matrix_profile_distributed(t, 8, chunk_len=24),
        _DIST_SCHEMA, False),
}


@pytest.mark.parametrize("name", sorted(ADAPTER_OPS))
def test_adapter_contract(spark, edge_tokens, name):
    """Each long-form operator keeps its declared schema through the Arrow
    adapter, emits nothing for the docs too short for its window, and an
    input whose every doc is skipped yields 0 rows (empty batches)."""
    run, schema, pairs = ADAPTER_OPS[name]
    tokens = edge_tokens
    short = {"tiny", "two"}
    if pairs:
        num = F.create_map(*[F.lit(x) for kv in (
            ("tiny", "0"), ("two", "1"), ("ramp", "2"), ("alt", "3"),
            ("const", "4"), ("big_vals", "5")) for x in kv])
        tokens = edge_tokens.withColumn("doc_id", num[F.col("doc_id")])
        short = {"0|1"}
    out = run(tokens)
    assert out.schema == schema
    keys = {r[0] for r in out.collect()}
    assert keys and not keys & short
    only_short = tokens.filter(F.col("n_tok") <= 2)
    assert run(only_short).count() == 0


def test_adapter_nan_is_null(spark, edge_tokens):
    """A NaN in a float column comes back as NULL, as through mapInPandas;
    the key repeats once per emitted row."""
    schema = T.StructType([T.StructField("doc_id", T.StringType(), False),
                           T.StructField("v", T.DoubleType(), True)])
    t = map_docs(edge_tokens, "doc_id", ["tokens"],
                 lambda toks: {"v": np.full(toks.size, np.nan)},
                 schema).toArrow()
    assert t.num_rows == 1 + 2 + 400 + 100 + 61 + 100
    assert t.column("v").null_count == t.num_rows
    assert t.column("doc_id").to_pylist().count("const") == 400


def test_lttb_lockstep_matches_per_doc_reference(spark):
    """The lockstep (across-docs) LTTB kernel must equal a straightforward
    per-doc replay of the recurrence on the real driver table — every
    selected (bucket, x, y), bit-for-bit, ties to the smaller offset."""
    import numpy as np

    from matrixprofiler_spark.queries import LTTB_B as B
    from matrixprofiler_spark.queries import _tok, q_downsample_lttb

    sf = "/root/testdata/sf0.001"
    toks = {
        r.doc_id: np.asarray(r.tokens, dtype=np.int64)
        for r in _tok(spark, sf).select("doc_id", "tokens").collect()
    }
    want = []
    for doc_id, y in toks.items():
        n = y.size
        if n <= B:
            continue
        x = np.arange(n, dtype=np.int64)
        b = x // B
        maxb = int(b[-1])
        sx = np.bincount(b, weights=x).astype(np.int64)
        sy = np.bincount(b, weights=y).astype(np.int64)
        c = np.bincount(b).astype(np.int64)
        want.append((doc_id, 0, 0, int(y[0])))
        xp, yp = 0, int(y[0])
        for bb in range(1, maxb):
            lo, hi = bb * B, (bb + 1) * B
            xs, ys = x[lo:hi], y[lo:hi]
            c1, sxn, syn = int(c[bb + 1]), int(sx[bb + 1]), int(sy[bb + 1])
            score = np.abs((xp * c1 - sxn) * (ys - yp)
                           - (xp - xs) * (syn - yp * c1))
            k = int(np.argmax(score))
            xp, yp = int(xs[k]), int(ys[k])
            want.append((doc_id, bb, xp, yp))
        want.append((doc_id, maxb, n - 1, int(y[n - 1])))
    got = sorted(
        (r.doc_id, r.b, r.x, r.y) for r in q_downsample_lttb(spark, sf).collect()
    )
    assert got == sorted(want)
