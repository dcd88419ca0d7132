"""The benchmark workloads.

Each workload builds its inputs and their references from the seed
(``build``, not timed), opens them in a Spark session (``bind``, part of
the timed set-up), runs one timed iteration of calls into the engine's
public functions (``iteration``), and checks the engine's outputs against
references computed outside the engine (in ``iteration`` after its timed
region, and in ``check``). Every public call is one attempted operation; a
call that raises or whose output is wrong is a failed one.

``iteration`` returns a dict with ``timed_s`` and ``cpu_s`` (wall and
process-tree CPU seconds of its timed region only), ``stage_s`` and
``ok``.
"""

from __future__ import annotations

import shutil
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from . import inputs
from .harness import Stopwatch, Tracer, median, tail

W = 128           # window length of the rollup window stats and the MP
HOLE_MOD = 20     # 1 in 20 fine buckets is punched out before gap fill
RANGE_READS = 2   # seeded range reads per lifecycle iteration


class Ops:
    """Attempted / failed operation counts, with the failure messages."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self._lock = threading.Lock()  # the warm-ups call from threads

    def call(self, what: str, fn):
        with self._lock:
            self.attempted += 1
        try:
            return fn()
        except Exception as e:  # one failed op; the run reports it
            self.fail(what, f"{type(e).__name__}: {e}"[:300])
            return None

    def fail(self, what: str, msg: str):
        with self._lock:
            self.failed += 1
            self.errors.append(f"{what}: {msg}")

    def expect(self, what: str, got, want) -> bool:
        if got != want:
            self.fail(what, f"got {got!r}, want {want!r}")
            return False
        return True


def concurrently(*calls) -> None:
    """Run the calls in threads, as concurrent Spark jobs, and wait for all.
    The warm-up iteration runs next to the first set-up this way: much of
    their time is one-off latency (JIT, class loading, Python worker
    start-up) that overlaps well."""
    with ThreadPoolExecutor(len(calls)) as ex:
        for f in [ex.submit(c) for c in calls]:
            f.result()


def _sample(rng: np.random.Generator, pool, k: int) -> list:
    pool = list(pool)
    if len(pool) <= k:
        return pool
    return [pool[i] for i in sorted(rng.choice(len(pool), k, replace=False))]


def _du(path: Path, suffix: str = ".parquet") -> tuple[int, int]:
    """(bytes, files) of the data files under ``path``."""
    size = files = 0
    for p in path.rglob(f"*{suffix}"):
        size += p.stat().st_size
        files += 1
    return size, files


def _znorm_dist(x: np.ndarray, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """z-normalised Euclidean distances between the length-``W`` windows
    of ``x`` at offsets ``a`` and ``b``."""
    win = np.lib.stride_tricks.sliding_window_view(x, W)
    za, zb = win[a], win[b]
    za = (za - za.mean(1, keepdims=True)) / za.std(1, keepdims=True)
    zb = (zb - zb.mean(1, keepdims=True)) / zb.std(1, keepdims=True)
    return np.sqrt(((za - zb) ** 2).sum(1))


def _half_pairs(n_tok) -> float:
    """Distance-matrix half-pairs of the self-join MP at window ``W``,
    over the docs long enough to have one (n >= 2W)."""
    p = np.asarray(n_tok, dtype=np.float64) - (W - 1)
    p = p[np.asarray(n_tok) >= 2 * W]
    return float((p * p / 2).sum())


class Workload:
    name = ""
    MIN_ITERS = 1  # timed iterations of an untraced run, at the least

    def __init__(self, seed: int, work: Path, cores: int):
        self.seed = seed
        self.work = work
        self.cores = cores
        self.digests: dict[str, str] = {}
        self.rng = np.random.default_rng(seed)

    def build(self, dest: Path) -> None:
        raise NotImplementedError

    def bind(self, spark, dest: Path) -> None:
        raise NotImplementedError

    def warmup(self, spark, ops: Ops) -> None:
        raise NotImplementedError

    def iteration(self, spark, tr, ops: Ops, i: int) -> dict:
        raise NotImplementedError

    def check(self, spark, ops: Ops, results: list[dict]) -> None:
        """Checks that need the whole run; most run per iteration."""

    def summarize(self, iters: list[tuple[float, dict]]) -> dict:
        raise NotImplementedError

    def layer_work(self, rates: dict, res: dict) -> dict:
        """Per-span estimates of the single-thread seconds spent in the
        measured kernels and codecs: {span: {layer: seconds}}."""
        return {}


def _tokens_df(spark, path: Path):
    from matrixprofiler_spark.sources.tokens import TOKENS_SCHEMA

    return spark.read.schema(TOKENS_SCHEMA).parquet(str(path))


# -------------------------------------------------------------- rollup

def _tiers(corpus: inputs.TokenCorpus) -> pa.Table:
    """The exact 1m/1h/1d tiers of every doc, in numpy: (doc_id, tier,
    bucket, cnt, sum_v, sumsq, min_v, max_v), sorted."""
    cols: dict[str, list] = {k: [] for k in (
        "doc_id", "tier", "bucket", "cnt", "sum_v", "sumsq", "min_v", "max_v")}
    for doc, x in zip(corpus.ids, corpus.docs):
        xl = x.astype(np.int64)
        for tier, size in (("1m", 60), ("1h", 3600), ("1d", 86400)):
            starts = np.arange(0, x.size, size)
            cols["doc_id"] += [doc] * starts.size
            cols["tier"] += [tier] * starts.size
            cols["bucket"].append(np.arange(starts.size, dtype=np.int64))
            cols["cnt"].append(np.minimum(size, x.size - starts).astype(np.int64))
            cols["sum_v"].append(np.add.reduceat(xl, starts))
            cols["sumsq"].append(np.add.reduceat(xl * xl, starts))
            cols["min_v"].append(np.minimum.reduceat(xl, starts))
            cols["max_v"].append(np.maximum.reduceat(xl, starts))
    t = pa.table({k: (v if k in ("doc_id", "tier") else np.concatenate(v))
                  for k, v in cols.items()})
    return t.sort_by([("doc_id", "ascending"), ("tier", "ascending"),
                      ("bucket", "ascending")])


def _as_int64(t: pa.Table, names) -> list[np.ndarray]:
    return [t.column(c).cast(pa.int64()).to_numpy(zero_copy_only=False)
            for c in names]


STATS = ("cnt", "sum_v", "sumsq", "min_v", "max_v")
WS_BLOBS = ("movmean_blob", "movstd_blob", "movmin_blob", "movmax_blob",
            "offsets_blob")


class RollupPipeline(Workload):
    """tier_rollup -> gap_fill (seeded 5% holes) -> window_stats_chunked,
    then the matrix-profile stages (``MotifStages``) over their own
    corpus."""

    name = "rollup_pipeline"
    TOKENS = 150_000
    # after the warm-up iteration the first timed one still reads 5-23%
    # above the second; the median of two halves its weight
    MIN_ITERS = 2

    def build(self, dest):
        self.corpus = inputs.TokenCorpus.with_budget(
            self.seed, self.TOKENS, float)
        warm = inputs.TokenCorpus.with_budget(
            self.seed, self.TOKENS, float, first=10**6)
        self.digests["tokens"] = inputs.write(self.corpus.table(), dest / "tokens")
        self.digests["warmup"] = inputs.write(warm.table(), dest / "warm")
        n = self.corpus.n_tok
        self.want_tiers = _tiers(self.corpus)
        one = self.want_tiers.filter(pc.equal(self.want_tiers.column("tier"), "1m"))
        b = one.column("bucket").to_numpy()
        docs = np.array(one.column("doc_id").to_pylist(), dtype=object)
        ix = np.array([int(d[4:]) for d in docs])
        hole = (b * 7919 + ix * 104729 + self.seed) % HOLE_MOD == 0
        # the spine runs from bucket 0 to each doc's last surviving bucket
        last = dict(zip(docs[~hole], b[~hole]))
        spine = np.array([bb <= last.get(d, -1) for d, bb in zip(docs, b)])
        self.want_filled = one.filter(pa.array(spine)).append_column(
            "filled", pa.array(hole[spine]))
        self.want_windows = int(np.maximum(n - (W - 1), 0).sum())
        pick = _sample(self.rng, [i for i in range(n.size) if n[i] >= W], 3)
        self.pick = sorted(set(pick) | {int(np.argmax(n))})
        self.sample = [self.corpus.ids[i] for i in self.pick]
        self.motif = MotifStages(self.seed, self.rng)
        self.motif.build(dest / "motif", self.digests)

    def bind(self, spark, dest):
        self.tokens = _tokens_df(spark, dest / "tokens")
        self.warm = _tokens_df(spark, dest / "warm")
        self.motif.bind(spark, dest / "motif")

    def _pipeline(self, tokens, tr, ops: Ops, out: dict) -> None:
        """The timed rollup stages. Each collects its output to the driver
        (the tiers in full; of the window stats, the counts of every doc
        and the blobs of the sampled docs only), so that the checks read
        the very rows the timed run produced."""
        from pyspark.sql import functions as F

        from matrixprofiler_spark.operators.rollup import (
            gap_fill, tier_rollup, window_stats_chunked, with_derived_stats)

        # two tasks per core: at this input size, per-task overhead at the
        # 4-per-core fan-out of bench.py would hide the data path
        parts = 2 * self.cores
        handles: list = []
        try:
            t0 = time.perf_counter()
            with tr.span("rollup.tier_rollup"):
                rolled = with_derived_stats(tier_rollup(
                    tokens, num_partitions=parts, persist=True,
                    persisted_out=handles))
                out["rolled"] = ops.call("tier_rollup", rolled.toArrow)
            t1 = time.perf_counter()
            with tr.span("rollup.gap_fill"):
                ix = F.substring("doc_id", 5, 8).cast("long")
                holey = rolled.filter(F.col("tier") == "1m").filter(
                    F.pmod(F.col("bucket") * 7919 + ix * 104729
                           + F.lit(self.seed), F.lit(HOLE_MOD)) != 0)
                out["filled"] = ops.call("gap_fill", gap_fill(holey).toArrow)
            t2 = time.perf_counter()
            with tr.span("rollup.window_stats"):
                ws = window_stats_chunked(tokens, w=W, chunk_len=4096,
                                          num_partitions=parts)
                keep = F.col("doc_id").isin(self.sample)
                out["ws"] = ops.call("window_stats_chunked", ws.select(
                    "doc_id", "n_windows",
                    *[F.when(keep, F.col(c)).alias(c) for c in WS_BLOBS]).toArrow)
            t3 = time.perf_counter()
        finally:
            for h in handles:
                h.unpersist(True)
        out["stage_s"].update({"tier_rollup": t1 - t0, "gap_fill": t2 - t1,
                               "window_stats": t3 - t2})

    def warmup(self, spark, ops):
        out: dict = {"stage_s": {}}
        self._pipeline(self.warm, Tracer(), ops, out)
        self.motif.run(self.motif.warm, self.motif.warm_cut, Tracer(), ops, out,
                       self.cores)

    def iteration(self, spark, tr, ops, i):
        out: dict = {"stage_s": {}}
        sw = Stopwatch()
        with sw:
            self._pipeline(self.tokens, tr, ops, out)
            self.motif.run(self.motif.tokens, self.motif.cut, tr, ops, out,
                           self.cores)
        out["timed_s"], out["cpu_s"] = sw.wall_s, sw.cpu_s
        rolled, filled, ws = out.pop("rolled"), out.pop("filled"), out.pop("ws")
        ok = [self._check_tiers(ops, rolled, filled), self._check_ws(ops, ws),
              self.motif.check(ops, out.pop("blobs"), out.pop("dist"), i == 0)]
        if rolled is not None:
            out["rollup"] = rolled.num_rows
        if filled is not None:
            out["filled_rows"] = filled.num_rows
        out["windows"] = self.want_windows
        out["ok"] = all(ok)
        return out

    def _check_tiers(self, ops, rolled, filled) -> bool:
        """Every doc's tier bucket stats (and the derived mean and std)
        against numpy int sums, and the gap-filled 1m tier against the
        punched input: survivors unchanged, holes zero-filled and flagged."""
        if rolled is None or filled is None:
            return False
        bad0 = len(ops.errors)
        key = [("doc_id", "ascending"), ("tier", "ascending"),
               ("bucket", "ascending")]
        got = rolled.sort_by(key)
        want = self.want_tiers
        if not ops.expect("tier_rollup rows", got.num_rows, want.num_rows):
            return False
        names = ("bucket",) + STATS
        for c, g, w in zip(names, _as_int64(got, names), _as_int64(want, names)):
            if not np.array_equal(g, w):
                ops.fail("tier_rollup", f"column {c} differs")
        if got.column("doc_id").to_pylist() != want.column("doc_id").to_pylist():
            ops.fail("tier_rollup", "doc ids differ")
        cnt, s, s2 = (w.astype(np.float64) for w in _as_int64(want, STATS[:3]))
        mean = s / cnt
        for c, ref in (("mean", mean), ("std", np.sqrt(s2 / cnt - mean * mean))):
            if got.column(c).to_numpy().tobytes() != ref.tobytes():
                ops.fail("tier_rollup", f"derived {c} differs")
        got = filled.sort_by(key[::2])
        want = self.want_filled
        if not ops.expect("gap_fill rows", got.num_rows, want.num_rows):
            return False
        hole = want.column("filled").to_numpy(zero_copy_only=False)
        if not np.array_equal(got.column("filled").to_numpy(zero_copy_only=False),
                              hole):
            ops.fail("gap_fill", "filled flags differ")
        for c in STATS:
            g = got.column(c)
            if c in ("min_v", "max_v"):
                if g.null_count != hole.sum() or not np.array_equal(
                        g.filter(pa.array(~hole)).cast(pa.int64()).to_numpy(),
                        want.column(c).filter(pa.array(~hole)).to_numpy()):
                    ops.fail("gap_fill", f"column {c} differs")
            elif not np.array_equal(g.cast(pa.int64()).to_numpy(),
                                    np.where(hole, 0, want.column(c).to_numpy())):
                ops.fail("gap_fill", f"column {c} differs")
        return len(ops.errors) == bad0

    def _check_ws(self, ops, ws) -> bool:
        """The window count of every doc, and the decoded window-stat
        blobs and offsets of the sampled docs, byte for byte against
        ``kernels.window``."""
        from matrixprofiler_spark.codecs import dod_decode, gorilla_decode
        from matrixprofiler_spark.kernels.window import (
            movmax, movmean, movmin, movstd)

        if ws is None:
            return False
        bad0 = len(ops.errors)
        ops.expect("window count", int(pc.sum(ws.column("n_windows")).as_py()),
                   self.want_windows)
        rows: dict[str, list] = {}
        for r in ws.filter(pc.is_in(ws.column("doc_id"), pa.array(self.sample))
                           ).to_pylist():
            rows.setdefault(r["doc_id"], []).append(r)
        for i, doc in zip(self.pick, self.sample):
            chunks = sorted(rows.get(doc, []),
                            key=lambda r: dod_decode(r["offsets_blob"])[0])
            if not chunks:
                ops.fail("window stats", f"no rows for {doc}")
                continue
            xf = self.corpus.docs[i].astype(np.float64)
            for col, ref in (("movmean_blob", movmean(xf, W, "ogita")),
                             ("movstd_blob", movstd(xf, W)),
                             ("movmin_blob", movmin(xf, W)),
                             ("movmax_blob", movmax(xf, W))):
                dec = np.concatenate([gorilla_decode(r[col]) for r in chunks])
                if dec.tobytes() != np.asarray(ref, np.float64).tobytes():
                    ops.fail("window stats", f"{col} of {doc}")
            offs = np.concatenate([dod_decode(r["offsets_blob"]) for r in chunks])
            if not np.array_equal(offs, np.arange(xf.size - W + 1)):
                ops.fail("window stats", f"offsets of {doc}")
        return len(ops.errors) == bad0

    def summarize(self, iters):
        good = [r for _, r in iters if r["ok"]]
        if not good:
            return {}
        rollup = [(r["rollup"] * 5 + r["filled_rows"] * 5 + r["windows"] * 4)
                  / sum(r["stage_s"][k] for k in
                        ("tier_rollup", "gap_fill", "window_stats"))
                  for r in good]
        out = {"rollup_points_per_s": (median(rollup), "1/s")}
        out.update(self.motif.summarize(good))
        return out

    def layer_work(self, rates, res):
        tokens = float(self.corpus.n_tok.sum())
        work = {"rollup.window_stats": {
            "kernels_window": tokens * rates["window_ns"] / 1e9,
            "codecs": self.want_windows
            * (4 * rates["gorilla_ns"] + rates["dod_ns"]) / 1e9}}
        work.update(self.motif.layer_work(rates))
        return work


# -------------------------------------------------------------- motif

class MotifStages:
    """matrix_profile_blobs over the docs up to the routing cut, and
    matrix_profile_distributed over the docs past it."""

    HALF_PAIRS = 3e8     # per iteration, over the whole corpus
    TASK_BUDGET_S = 2.0  # per blob task, for the routing cut
    CHUNK = 2048

    def __init__(self, seed: int, rng: np.random.Generator):
        self.seed = seed
        self.rng = rng

    def build(self, dest: Path, digests: dict) -> None:
        from matrixprofiler_spark.plans.partitioning import mp_routing_cut

        self.corpus = inputs.TokenCorpus.with_budget(
            self.seed, self.HALF_PAIRS, lambda n: _half_pairs([n]), first=10**5)
        warm = inputs.TokenCorpus.with_budget(
            self.seed, self.HALF_PAIRS, lambda n: _half_pairs([n]),
            first=2 * 10**6)
        n = self.corpus.n_tok
        self.cut = mp_routing_cut(int(n.max()), task_budget_sec=self.TASK_BUDGET_S)
        self.warm_cut = mp_routing_cut(int(warm.n_tok.max()),
                                       task_budget_sec=self.TASK_BUDGET_S)
        digests["mp_tokens"] = inputs.write(self.corpus.table(), dest / "tokens")
        digests["mp_warmup"] = inputs.write(warm.table(), dest / "warm")
        short = [i for i in range(n.size) if n[i] <= self.cut]
        long_ = [i for i in range(n.size) if n[i] > self.cut]
        self.hp_blobs = _half_pairs(n[short])
        self.hp_dist = _half_pairs(n[long_])
        self.want_blobs = len(short)
        self.want_profile = int(np.maximum(n[short] - (W - 1), 0)[
            n[short] >= 2 * W].sum())
        pick = _sample(self.rng, [i for i in short if n[i] >= 2 * W], 2)
        pick += _sample(self.rng, sorted(long_, key=lambda i: n[i])[:3], 1)
        self.pick = pick

    def bind(self, spark, dest: Path) -> None:
        self.tokens = _tokens_df(spark, dest / "tokens")
        self.warm = _tokens_df(spark, dest / "warm")

    def run(self, tokens, cut, tr, ops, out: dict, cores: int) -> None:
        """The timed MP stages; their outputs are collected as Arrow
        tables into ``out["blobs"]`` and ``out["dist"]``."""
        from pyspark.sql import functions as F

        from matrixprofiler_spark.operators.mp_ops import (
            matrix_profile_blobs, matrix_profile_distributed)

        parts = 4 * cores
        t0 = time.perf_counter()
        with tr.span("mp_ops.blobs"):
            out["blobs"] = ops.call("matrix_profile_blobs", lambda: matrix_profile_blobs(
                tokens.filter(F.col("n_tok") <= cut), w=W, max_tokens=cut,
                num_partitions=parts).select(
                    "doc_id", "profile_len", "mp_blob", "pi_blob").toArrow())
        t1 = time.perf_counter()
        with tr.span("mp_ops.census"):
            # the constructor runs the tile census eagerly
            dist = ops.call("matrix_profile_distributed census",
                            lambda: matrix_profile_distributed(
                                tokens.filter(F.col("n_tok") > cut), w=W,
                                chunk_len=self.CHUNK, num_partitions=parts))
        t2 = time.perf_counter()
        with tr.span("mp_ops.distributed"):
            out["dist"] = None if dist is None else ops.call(
                "matrix_profile_distributed", dist.toArrow)
        t3 = time.perf_counter()
        out["stage_s"].update({"mp_blobs": t1 - t0, "mp_census": t2 - t1,
                               "mp_distributed": t3 - t2})

    def check(self, ops, blobs, dist, sample: bool) -> bool:
        """Row and profile-point counts of the blobs; with ``sample``, the
        sampled docs' profiles against the driver-side ``kernels.mp.mpx``:
        blob docs byte for byte (the blob path runs MPX); tiled docs, which
        compute exact integer distances, to 1e-9, and with the same nearest
        neighbours except at near ties."""
        from matrixprofiler_spark.codecs import dod_decode, gorilla_decode
        from matrixprofiler_spark.kernels.mp import mpx

        if blobs is None or dist is None:
            return False
        bad0 = len(ops.errors)
        ops.expect("mp blob rows", blobs.num_rows, self.want_blobs)
        ops.expect("mp profile points",
                   int(pc.sum(blobs.column("profile_len")).as_py()),
                   self.want_profile)
        for i in self.pick if sample else []:
            doc = self.corpus.ids[i]
            x = self.corpus.docs[i].astype(np.float64)
            ref = mpx(x, W, exclusion_zone=0.5)
            mp = np.asarray(ref["matrix_profile"], np.float64)
            pi = np.asarray(ref["profile_index"], np.int64)
            if x.size <= self.cut:
                r = blobs.filter(pc.equal(blobs.column("doc_id"), doc)).to_pylist()
                if len(r) != 1:
                    ops.fail("mp blobs", f"{len(r)} rows for {doc}")
                    continue
                if gorilla_decode(r[0]["mp_blob"]).tobytes() != mp.tobytes():
                    ops.fail("mp blobs", f"profile of {doc}")
                if not np.array_equal(dod_decode(r[0]["pi_blob"]), pi):
                    ops.fail("mp blobs", f"profile index of {doc}")
                continue
            t = dist.filter(pc.equal(dist.column("doc_id"), doc))
            off = t.column("off").to_numpy()
            got_mp = np.full(mp.size, np.inf)
            got_nn = np.full(mp.size, -1)
            got_mp[off] = t.column("mp").to_numpy()
            got_nn[off] = t.column("nn_off").to_numpy()
            fin = np.isfinite(mp)
            if (not np.array_equal(np.isfinite(got_mp), fin)
                    or not np.allclose(got_mp[fin], mp[fin], rtol=1e-9, atol=1e-9)):
                ops.fail("mp distributed", f"profile of {doc}")
                continue
            # where the neighbours differ (near ties), the engine's one must
            # lie at the distance it reports
            off = np.nonzero(fin & (got_nn != pi - 1))[0]  # mpx is 1-based
            if not np.allclose(_znorm_dist(x, off, got_nn[off]), got_mp[off],
                               rtol=1e-9, atol=1e-9):
                ops.fail("mp distributed", f"profile index of {doc}")
        return len(ops.errors) == bad0

    def summarize(self, good: list[dict]) -> dict:
        rates = [(self.hp_blobs + self.hp_dist)
                 / sum(r["stage_s"][k] for k in
                       ("mp_blobs", "mp_census", "mp_distributed"))
                 for r in good]
        return {"mp_half_pairs_per_s": (median(rates), "1/s"),
                "mp_routing_cut": (self.cut, "tokens")}

    def layer_work(self, rates) -> dict:
        # the tile kernel's single-thread rate is taken as MPX's
        hp = rates["mpx_half_pairs_per_s"]
        return {
            "mp_ops.blobs": {
                "kernels_mp": self.hp_blobs / hp,
                "codecs": self.want_profile
                * (rates["gorilla_ns"] + rates["dod_ns"]) / 1e9},
            "mp_ops.distributed": {"kernels_mp": self.hp_dist / hp},
        }


# ------------------------------------------------------------ curation

CURATION = ("sliding_stats_w8", "mass_w8", "matrix_profile_w8",
            "dedup_minhash_lsh", "dedup_ngram_jaccard", "embedding_near_dups")


class CurationSuite:
    """Six registry queries over seeded ``documents`` / ``embeddings``
    tables, checked against their ``oracle_sql()`` on DuckDB."""

    N_DOCS, N_VECS = 100, 100

    def __init__(self, seed: int):
        self.seed = seed

    def build(self, dest: Path, digests: dict) -> None:
        for sub, first, nd, nv in (("sf", 0, self.N_DOCS, self.N_VECS),
                                   ("warm", 10**6, self.N_DOCS, self.N_VECS)):
            d = dest / sub
            d.mkdir(parents=True, exist_ok=True)
            for name, t in (("documents", inputs.documents(self.seed, nd, first)),
                            ("embeddings", inputs.embeddings(self.seed, nv, first=first))):
                pq.write_table(t, d / f"{name}.parquet")
                digests[f"{sub}/{name}"] = inputs.digest(t)
        self.sf, self.warm_sf = str(dest / "sf"), str(dest / "warm")

    def run(self, spark, sf: str, tr, ops, out: dict) -> dict:
        """Each query once, collected to pandas; the stage times go into
        ``out["stage_s"]``. Returns {query: rows or None}."""
        from matrixprofiler_spark.queries import queries

        reg = queries()
        rows = {}
        for q in CURATION:
            t0 = time.perf_counter()
            with tr.span(f"curation.{q}"):
                rows[q] = ops.call(q, lambda: reg[q](spark, sf).toPandas())
            out["stage_s"][q] = time.perf_counter() - t0
        return rows

    def check(self, ops, rows: dict) -> bool:
        """The rows against ``oracle_sql()`` on DuckDB over the same
        parquet files, with the repository's oracle compare."""
        import duckdb

        from matrixprofiler_spark.queries import oracle_sql
        from tools.check_oracles import compare

        bad0 = len(ops.errors)
        con = duckdb.connect()
        try:
            for t in ("documents", "embeddings"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{self.sf}/{t}.parquet')")
            sql = oracle_sql()
            for q, got in rows.items():
                if got is None:
                    continue
                want = ops.call(f"{q} oracle", lambda: con.execute(sql[q]).df())
                if want is None:
                    continue
                problems = compare(q, got, want)
                if problems:
                    ops.fail(q, "; ".join(problems[:2]))
        finally:
            con.close()
        return len(ops.errors) == bad0


# ----------------------------------------------------------- lifecycle

FINE_COLS = ["doc_id", "source", "bucket", "cnt", "sum_v", "sumsq",
             "min_v", "max_v"]


def _canon(t: pa.Table) -> pa.Table:
    t = t.select(FINE_COLS)
    t = pa.Table.from_arrays(
        [c.cast(pa.int64()) if pa.types.is_integer(c.type) else c.cast(pa.string())
         for c in t.columns], names=FINE_COLS)
    return t.sort_by([("doc_id", "ascending"), ("bucket", "ascending")])


def _tables_equal(a: pa.Table, b: pa.Table) -> bool:
    return inputs.digest(_canon(a)) == inputs.digest(_canon(b))


class RetentionLifecycle(Workload):
    """RetentionExpiryJob + CompressionPolicyJob on fresh base dirs, an
    idempotent rerun of both, seeded ``read_fine`` range reads, then the
    curation queries: a run of many short Spark jobs, with the kernels
    nearly idle."""

    name = "retention_lifecycle"
    TOKENS = 100_000
    EXPIRY = dict(fine_size=60, coarse_size=3600, horizon=7200, n_groups=2)
    COMPRESS = dict(fine_size=60, chunk_span=3600, horizon=3600, n_groups=2)

    def build(self, dest):
        corpus = inputs.TokenCorpus.with_budget(self.seed, self.TOKENS, float)
        warm = inputs.TokenCorpus.with_budget(
            self.seed, self.TOKENS, float, first=10**6)
        self.fine = corpus.fine_tier()
        self.curation = CurationSuite(self.seed)
        self.curation.build(dest / "curation", self.digests)
        self.digests["fine_1m"] = inputs.write(self.fine, dest / "fine")
        self.digests["warmup"] = inputs.write(warm.fine_tier(), dest / "warm")
        t = self.fine.to_pandas()
        wm = t.groupby("doc_id")["bucket"].transform("max").add(1) * 60
        cut = ((wm - self.EXPIRY["horizon"]) // 3600) * 3600
        self.want_expired = self.fine.filter(
            pa.array(((t["bucket"] + 1) * 60 > cut).to_numpy()))
        top = int(t["bucket"].max())
        rng = np.random.default_rng([self.seed, 1])
        self.ranges = []
        for _ in range(64):
            span = int(rng.integers(5, 60))
            lo = int(rng.integers(0, max(top - span, 1)))
            self.ranges.append((lo, lo + span))
        self.runs = 0

    def bind(self, spark, dest):
        self.fine_df = spark.read.parquet(str(dest / "fine"))
        self.warm_df = spark.read.parquet(str(dest / "warm"))

    def _fresh(self) -> Path:
        self.runs += 1
        base = self.work / "lifecycle" / f"run{self.runs}"
        shutil.rmtree(base, ignore_errors=True)
        return base

    def _cycle(self, fine, tr, ops, reads: list, out: dict) -> None:
        """The timed lifecycle calls; the jobs, the read results and the
        stage times go into ``out``."""
        from matrixprofiler_spark.streaming.compress import CompressionPolicyJob
        from matrixprofiler_spark.streaming.expiry import RetentionExpiryJob

        spark = fine.sparkSession
        base = out["base"] = self._fresh()
        exp_fine = fine.select(*FINE_COLS[:2], "tier", *FINE_COLS[2:])
        cmp_fine = fine.select(*FINE_COLS)
        t0 = time.perf_counter()
        with tr.span("expiry.run"):
            ej = RetentionExpiryJob(spark, base / "expiry", **self.EXPIRY)
            out["expiry_groups"] = ops.call("expiry.run", lambda: ej.run(exp_fine))
        t1 = time.perf_counter()
        with tr.span("compress.run"):
            cj = CompressionPolicyJob(spark, base / "compress", **self.COMPRESS)
            out["compress_groups"] = ops.call("compress.run",
                                              lambda: cj.run(cmp_fine))
        t2 = time.perf_counter()
        with tr.span("expiry.rerun"):
            again = RetentionExpiryJob(spark, base / "expiry", **self.EXPIRY)
            out["expiry_rerun"] = ops.call("expiry.rerun",
                                           lambda: again.run(exp_fine))
        with tr.span("compress.rerun"):
            again_c = CompressionPolicyJob(spark, base / "compress",
                                           **self.COMPRESS)
            out["compress_rerun"] = ops.call("compress.rerun",
                                             lambda: again_c.run(cmp_fine))
        t3 = time.perf_counter()
        out["read_s"], out["reads"] = [], []
        for lo, hi in reads:
            r0 = time.perf_counter()
            with tr.span("read.range"):
                tab = ops.call("read_fine range", lambda: cj.read_fine(
                    bucket_min=lo, bucket_max=hi).toArrow())
            out["read_s"].append(time.perf_counter() - r0)
            out["reads"].append(((lo, hi), tab))
        t4 = time.perf_counter()
        out["stage_s"].update({"expiry": t1 - t0, "compress": t2 - t1,
                               "rerun": t3 - t2, "reads": t4 - t3})
        out["jobs"] = (ej, cj)

    def warmup(self, spark, ops):
        # both halves are many short jobs, which overlap well
        concurrently(
            lambda: self._cycle(self.warm_df, Tracer(), ops,
                                self.ranges[:RANGE_READS], {"stage_s": {}}),
            lambda: self.curation.run(spark, self.curation.warm_sf, Tracer(),
                                      ops, {"stage_s": {}}))

    def iteration(self, spark, tr, ops, i):
        k = (i * RANGE_READS) % len(self.ranges)
        out: dict = {"stage_s": {}}
        sw = Stopwatch()
        with sw:
            self._cycle(self.fine_df, tr, ops, self.ranges[k:k + RANGE_READS],
                        out)
            rows = self.curation.run(spark, self.curation.sf, tr, ops, out)
        out["timed_s"], out["cpu_s"] = sw.wall_s, sw.cpu_s
        ej, cj = out.pop("jobs")
        em = ej.metrics() if out["expiry_groups"] is not None else {}
        cm = cj.metrics() if out["compress_groups"] is not None else {}
        out["expiry_rows"] = em.get("rows_before")
        out["compress_rows"] = cm.get("rows_in")
        out["compress_ratio"] = cm.get("compression_ratio")
        out["expiry_after"] = em.get("rows_after")
        out["read_rows"] = [t.num_rows for _, t in out["reads"] if t is not None]
        n = self.fine.num_rows
        ok = [ops.expect("expiry rows", out["expiry_rows"], n),
              ops.expect("compress rows", out["compress_rows"], n),
              ops.expect("expiry kept rows", out["expiry_after"],
                         self.want_expired.num_rows),
              ops.expect("expiry rerun", out["expiry_rerun"], []),
              ops.expect("compress rerun", out["compress_rerun"], [])]
        b = self.fine.column("bucket").to_numpy()
        for (lo, hi), tab in out.pop("reads"):
            want = self.fine.filter(pa.array((b >= lo) & (b <= hi)))
            if tab is None:
                ok.append(False)
            elif not _tables_equal(tab, want):
                ops.fail("range read", f"[{lo}, {hi}] differs from the input")
                ok.append(False)
        ok.append(all(r is not None for r in rows.values()))
        if i == 0:
            ok.append(self.curation.check(ops, rows))
            self._rows = {q: len(r) for q, r in rows.items() if r is not None}
        else:
            ok.append(ops.expect("curation rows", {
                q: len(r) for q, r in rows.items() if r is not None}, self._rows))
        out["ok"] = all(ok)
        self._last = ej, cj
        out["store"] = self._store_bytes(out["base"])
        return out

    @staticmethod
    def _store_bytes(base: Path) -> dict:
        staged, _ = _du(base / "expiry" / "fine_staged")
        compacted, _ = _du(base / "expiry" / "compacted")
        seg, _ = _du(base / "compress" / "segments")
        head, _ = _du(base / "compress" / "head")
        _, fe = _du(base / "expiry")
        _, fc = _du(base / "compress")
        return {"staged": staged, "stored": compacted + seg + head,
                "expiry_files": fe, "compress_files": fc}

    def check(self, spark, ops, results):
        """The last iteration's compressed store reads back as the input
        fine tier, and its compacted store equals the expiry predicate
        applied in numpy."""
        ej, cj = self._last
        full = ops.call("read_fine", lambda: cj.read_fine().toArrow())
        if full is not None and not _tables_equal(full, self.fine):
            ops.fail("read_fine", "full read differs from the input fine tier")
        kept = ops.call("expiry result", lambda: ej.result().toArrow())
        if kept is not None and not _tables_equal(kept, self.want_expired):
            ops.fail("expiry", "compacted store differs from the expiry predicate")

    def summarize(self, iters):
        good = [r for _, r in iters if r["ok"]]
        if not good:
            return {}
        reads = [s for r in good for s in r["read_s"]]
        t_val, t_pct = tail(reads)
        exp = median([r["expiry_rows"] / r["stage_s"]["expiry"] for r in good])
        cmp_ = median([r["compress_rows"] / r["stage_s"]["compress"] for r in good])
        store = good[0]["store"]
        return {
            "expiry_rows_per_s": (exp, "1/s"),
            "compress_rows_per_s": (cmp_, "1/s"),
            "lifecycle_rerun_s": (median([r["stage_s"]["rerun"] for r in good]), "s"),
            "range_read_p50_ms": (1e3 * median(reads), "ms"),
            "range_read_tail_ms": (1e3 * t_val, "ms"),
            "range_read_tail_percentile": (t_pct, "%"),
            "range_reads": (len(reads), "count"),
            "compress_ratio": (good[0]["compress_ratio"], "ratio"),
            "store_bytes_per_input_byte": (store["stored"] / store["staged"],
                                           "ratio"),
            "curation_suite_s": (median([sum(r["stage_s"][q] for q in CURATION)
                                         for r in good]), "s"),
        }

    def layer_work(self, rates, res):
        n = self.fine.num_rows
        return {
            "compress.run": {"codecs": n * 6 * rates["dod_ns"] / 1e9},
            "read.range": {
                "codecs": res["read_rows"] * 6 * rates["dod_decode_ns"] / 1e9},
        }


WORKLOADS = {w.name: w for w in (RollupPipeline, RetentionLifecycle)}
