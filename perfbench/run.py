#!/usr/bin/env python3
"""Benchmark of the rollup engine: one workload, one seed, one run.

    python3 perfbench/run.py --workload rollup_pipeline --seed 1 \
        --seconds 10 --trace 0

Runs ``local[nproc]`` from this single process. The workload's inputs are
generated from the seed; the engine's outputs are checked against
references computed outside the engine. The last line of standard output
is one JSON object {"correct", "attempted", "failed", "metrics"}; with
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1`` the
per-layer ones (spans, job groups and the Spark event log are on only in
that run). The line before it is the full run report, also written to
``perfbench/out/``. The exit code is 1 when any output check failed and 2
when the engine cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOAD_NAMES = ("rollup_pipeline", "retention_lifecycle")
SETUP_REPS = 3
SRC_DOCS = 8      # docs the engine's synthesizer writes in each set-up
# Python-worker time not spent in a measured kernel or codec is the Arrow
# boundary; the rest of an executor's run time is the JVM's
KERNEL_LAYERS = ("kernels_mp", "kernels_window", "codecs")
LAYERS = ("arrow_boundary", *KERNEL_LAYERS, "spark_jvm", "spark_exchange",
          "streaming_commit_io", "driver", "idle")
# span families the report gives self-time shares for, by span prefix
FAMILY = {"expiry": "lifecycle", "compress": "lifecycle", "read": "lifecycle"}
SPARK_COUNTERS = ("jobs", "tasks", "executor_run_s", "gc_s",
                  "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
                  "task_max_over_median", "python_bytes_sent",
                  "python_bytes_received", "python_run_s")


def _engine_importable() -> str | None:
    sys.path.insert(0, str(ROOT))
    try:
        import pyspark  # noqa: F401

        import matrixprofiler_spark  # noqa: F401
    except ImportError as e:
        return str(e)
    return None


ENGINE_MODULES = ("codecs", "kernels", "operators.rollup", "operators.mp_ops",
                  "plans.partitioning", "queries", "sources.tokens",
                  "streaming.compress", "streaming.expiry")


def _import_engine() -> None:
    """Import the engine modules the workloads call, before the warm-up
    threads do: two threads racing through the package's circular imports
    can see a partly initialised module."""
    import importlib

    for m in ENGINE_MODULES:
        importlib.import_module(f"matrixprofiler_spark.{m}")


def _env(tmp: Path) -> None:
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    # the native kernels compile into the temp dir on first use; keeping
    # it in the checkout shares the build between runs
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None
    # every JVM started from here (spark-submit's launcher and the driver)
    # keeps its temp files in the checkout and writes no hsperfdata file
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    for v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[v] = "1"
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)


def _per_value_ns(fn, n_values: int, min_s: float = 0.05) -> float:
    """Median over 3 batches of ``fn``'s single-thread ns per value."""
    from perfbench.harness import median

    out = []
    for _ in range(3):
        reps, t0 = 0, time.perf_counter()
        while True:
            fn()
            reps += 1
            el = time.perf_counter() - t0
            if el >= min_s:
                break
        out.append(el * 1e9 / (reps * n_values))
    return median(out)


def kernel_rates(seed: int) -> dict:
    """Single-thread rates of the kernels and codecs, and whether their
    native implementations loaded (a failed compile shows up here)."""
    import numpy as np

    from matrixprofiler_spark.codecs import (
        dod_decode_many, dod_encode_many, gorilla_encode_many)
    from matrixprofiler_spark.codecs import gorilla as _gorilla
    from matrixprofiler_spark.kernels import mp as _mp
    from matrixprofiler_spark.kernels import native
    from matrixprofiler_spark.kernels.window import (
        movmax, movmean, movmin, movstd)
    from perfbench.inputs import TokenCorpus
    from perfbench.workloads import W

    corpus = TokenCorpus.generate(seed, 16, first=3 * 10**6, lengths=[4096] * 16)
    docs = [d.astype(np.float64) for d in corpus.docs[:4]]
    n = sum(d.size for d in docs)
    # fine-tier stat columns cut into compression-segment-sized arrays,
    # the series the lifecycle jobs encode and decode
    fine = corpus.fine_tier()
    ints = [fine.column(c).to_numpy().astype(np.int64)[lo:lo + 60]
            for c in ("bucket", "cnt", "sum_v", "sumsq", "min_v", "max_v")
            for lo in range(0, fine.num_rows, 60)]
    n_i = sum(a.size for a in ints)

    def window():
        for x in docs:
            movmean(x, W, "ogita"), movstd(x, W), movmin(x, W), movmax(x, W)

    series = [movmean(x, W, "ogita") for x in docs]
    blobs = dod_encode_many(ints)
    n_s = sum(s.size for s in series)
    t0 = time.perf_counter()
    lib = native.get_lib()
    compile_s = time.perf_counter() - t0
    mp_native = lib is not None and _mp._native_mpx_lib() is not None
    codec_native = _gorilla._native_codec_lib() is not None
    hp = (docs[0].size - (W - 1)) ** 2 / 2
    mpx_s = []
    for _ in range(3):
        t0 = time.perf_counter()
        _mp.mpx(docs[0], W, exclusion_zone=0.5)
        mpx_s.append(time.perf_counter() - t0)
    return {
        "window_ns": _per_value_ns(window, n),
        "gorilla_ns": _per_value_ns(lambda: gorilla_encode_many(series), n_s),
        "dod_ns": _per_value_ns(lambda: dod_encode_many(ints), n_i),
        "dod_decode_ns": _per_value_ns(lambda: dod_decode_many(blobs), n_i),
        "mpx_half_pairs_per_s": hp / sorted(mpx_s)[1],
        "mp_native": int(mp_native),
        "codec_native": int(codec_native),
        "native_build_s": compile_s,
    }


def attribute(tracer, groups, work: dict, cores: int) -> dict:
    """Self time per layer over all traced spans, in wall-equivalent
    seconds: executor core-seconds / cores, plus driver-side wall time not
    covered by any Spark job, plus cores left idle inside the span.

    In a stage that runs Python, the Python workers' own run time is split
    into the measured kernels and codecs (their single-thread rates times
    the span's work, capped by that time) and the Arrow boundary (the rest:
    serialisation and the pandas/numpy glue of the UDF). The stage's other
    executor time is the JVM's."""
    from perfbench.harness import job_wall_s

    layers = dict.fromkeys(LAYERS, 0.0)
    families: dict[str, dict] = {}
    per_span: dict[str, dict] = {}
    kids: dict[int, float] = {}
    for s in tracer.spans:
        if s["parent"] is not None:
            kids[s["parent"]] = kids.get(s["parent"], 0.0) + s["end"] - s["start"]
    for s in tracer.spans:
        stages = groups.get(s["group"], {}).get("stages", {}).values()
        py = out = jvm = exch = 0.0
        for st in stages:
            e = st["fetch_wait_ms"] / 1e3 + st["shuffle_write_ns"] / 1e9
            r = max(st["run_ms"] / 1e3 - e, 0.0)
            exch += e
            if st["py_sent"] + st["py_recv"] > 0:
                p = min(st["py_run_ms"] / 1e3, r)
                py += p
                jvm += r - p
            elif st["output"] > 0:
                out += r
            else:
                jvm += r
        own = dict.fromkeys(LAYERS, 0.0)
        left = py
        for layer in KERNEL_LAYERS:
            k = min(work.get(s["name"], {}).get(layer, 0.0), left)
            own[layer] = k / cores
            left -= k
        own["arrow_boundary"] = left / cores
        own["spark_exchange"] = exch / cores
        streaming = s["name"].split(".")[0] in ("expiry", "compress")
        own["streaming_commit_io" if streaming else "spark_jvm"] += out / cores
        own["spark_jvm"] += jvm / cores
        self_wall = s["end"] - s["start"] - kids.get(s["id"], 0.0)
        gap = max(self_wall - job_wall_s(groups, [s["group"]]), 0.0)
        own["streaming_commit_io" if streaming else "driver"] += gap
        own["idle"] = max(self_wall - sum(own.values()), 0.0)
        fam = families.setdefault(FAMILY.get(s["name"].split(".")[0],
                                             s["name"].split(".")[0]),
                                  dict.fromkeys(LAYERS, 0.0))
        for name, v in own.items():
            layers[name] += v
            fam[name] += v
        ps = per_span.setdefault(s["name"], {"boundary_core_s": 0.0})
        ps["boundary_core_s"] += left
    return {"layers": layers, "per_span": per_span, "families": families}


def per_layer_metrics(wl, tracer, groups, iters, rates, probe, overhead,
                      scan, cores) -> tuple[dict, dict]:
    """The per-layer metrics, every one of them for every workload (0 for
    a layer the workload does not reach), per timed iteration; and the
    self time per layer of each span family."""
    from perfbench.harness import group_counters
    from perfbench.workloads import CURATION

    n_it = max(len(iters), 1)
    rows = [n for _, r in iters for n in r.get("read_rows", [])]
    res = {"read_rows": sum(rows) / len(rows) if rows else 0.0}
    att = attribute(tracer, groups, wl.layer_work(rates, res), cores)
    spans: dict[str, list] = {}
    for s in tracer.spans:
        spans.setdefault(s["name"], []).append(s)

    def wall(name):
        return sum(s["end"] - s["start"] for s in spans.get(name, [])) / n_it

    def counters(name):
        c = group_counters(groups, [s["group"] for s in spans.get(name, [])])
        return {k: (v if k == "task_max_over_median" else v / n_it)
                for k, v in c.items()}

    m: dict[str, tuple[float, str]] = {
        "hw_probe_s": (probe, "s"),
        "tracing_overhead": (overhead, "ratio"),
        "sources.scan_s": (scan[0], "s"),
        "sources.scan_bytes": (scan[1], "bytes"),
        "kernels.window.ns_per_value": (rates["window_ns"], "ns"),
        "codecs.gorilla_encode_ns_per_value": (rates["gorilla_ns"], "ns"),
        "codecs.dod_encode_ns_per_value": (rates["dod_ns"], "ns"),
        "codecs.dod_decode_ns_per_value": (rates["dod_decode_ns"], "ns"),
        "codecs.native_loaded": (rates["codec_native"], "flag"),
        "kernels.mp.native_loaded": (rates["mp_native"], "flag"),
        "kernels.mp.mpx_half_pairs_per_s_1t": (rates["mpx_half_pairs_per_s"], "1/s"),
    }
    for layer in LAYERS:
        m[f"self.{layer}_s"] = (att["layers"][layer] / n_it, "s")
    units = {"jobs": "count", "tasks": "count", "task_max_over_median": "ratio"}

    def spark_group(prefix, span):
        c = counters(span)
        for k in SPARK_COUNTERS:
            m[f"{prefix}.{k}"] = (c[k], units.get(k, "s" if k.endswith("_s")
                                                  else "bytes"))
        m[f"{prefix}.boundary_s"] = (
            att["per_span"].get(span, {}).get("boundary_core_s", 0.0) / n_it, "s")

    for g in ("tier_rollup", "gap_fill", "window_stats"):
        m[f"rollup.{g}_s"] = (wall(f"rollup.{g}"), "s")
        spark_group(f"rollup.{g}", f"rollup.{g}")
    for g in ("blobs", "census", "distributed"):
        m[f"mp_ops.{g}_s"] = (wall(f"mp_ops.{g}"), "s")
    motif = getattr(wl, "motif", None)
    hp = motif.hp_dist if motif else 0.0
    m["mp_ops.tile_half_pairs_per_s"] = (
        hp / m["mp_ops.distributed_s"][0] if hp else 0.0, "1/s")
    m["plans.mp_routing_cut"] = (motif.cut if motif else 0, "tokens")
    for g in ("blobs", "distributed"):
        spark_group(f"mp_ops.{g}", f"mp_ops.{g}")
    store = next((r["store"] for _, r in iters if r.get("store")), {})
    for job in ("expiry", "compress"):
        c, rc = counters(f"{job}.run"), counters(f"{job}.rerun")
        m[f"{job}.run_s"] = (wall(f"{job}.run"), "s")
        m[f"{job}.jobs"] = (c["jobs"], "count")
        m[f"{job}.bytes_read"] = (c["input_bytes"], "bytes")
        m[f"{job}.bytes_written"] = (c["output_bytes"], "bytes")
        m[f"{job}.files_written"] = (store.get(f"{job}_files", 0), "count")
        m[f"{job}.rerun_bytes_read"] = (rc["input_bytes"], "bytes")
        m[f"{job}.rerun_bytes_written"] = (rc["output_bytes"], "bytes")
    ratios = [r.get("compress_ratio") for _, r in iters if r.get("compress_ratio")]
    m["compress.ratio"] = (ratios[0] if ratios else 0.0, "ratio")
    for q in CURATION:
        c = counters(f"curation.{q}")
        m[f"curation.{q}_s"] = (wall(f"curation.{q}"), "s")
        m[f"curation.{q}.jobs"] = (c["jobs"], "count")
        m[f"curation.{q}.shuffle_read_bytes"] = (c["shuffle_read_bytes"], "bytes")
    return m, att["families"]


def engine_setup(spark, dest: Path, seed: int, cores: int
                 ) -> tuple[float, object]:
    """The engine's source layer: synthesize a seeded tokens table, write
    it as parquet and scan it once through its reader. Returns (scan
    seconds, reader)."""
    from pyspark.sql import functions as F

    from matrixprofiler_spark.sources.tokens import TOKENS_SCHEMA, synth_tokens_df

    # ensure_synth_tokens does the same with at least 128 partitions, which
    # took ~13 s for 24 docs on 4 cores; one partition per core keeps the
    # set-up short enough to repeat
    synth_tokens_df(spark, SRC_DOCS, seed, partitions=cores).write.parquet(
        str(dest))
    df = spark.read.schema(TOKENS_SCHEMA).parquet(str(dest))
    t0 = time.perf_counter()
    df.agg(F.count("*"), F.sum("n_tok")).collect()
    return time.perf_counter() - t0, df


def check_synth(ops, df, seed: int) -> str | None:
    """The synthesizer's table against its numpy replica; returns the
    replica's digest."""
    import numpy as np

    from perfbench import inputs

    got = ops.call("synth_tokens_df read", df.toArrow)
    want = inputs.engine_synth_table(seed, SRC_DOCS)
    if got is None:
        return None
    got = got.sort_by("doc_id")
    for col in ("doc_id", "source", "n_tok"):
        if got.column(col).to_pylist() != want.column(col).to_pylist():
            ops.fail("synth_tokens_df", f"column {col} differs from the replica")
            return None
    flat = [np.concatenate([c.values.to_numpy() for c in t.column("tokens").chunks])
            for t in (got, want)]
    if not np.array_equal(*flat):
        ops.fail("synth_tokens_df", "tokens differ from the replica")
    return inputs.digest(want)


def _shares(layers: dict) -> dict:
    total = sum(layers.values()) or 1.0
    return {k: v / total for k, v in layers.items()}


def run(args) -> tuple[dict, dict]:
    from perfbench import harness
    from perfbench.harness import RssSampler, Tracer, median, timed_loop
    from perfbench.workloads import WORKLOADS, Ops, _du, concurrently

    cores = os.cpu_count() or 1
    try:
        cores = len(os.sched_getaffinity(0))
    except AttributeError:
        pass
    work = HERE / ".work" / f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    _env(HERE / ".work" / "tmp")
    _import_engine()
    report: dict = {"workload": args.workload, "seed": args.seed,
                    "trace": args.trace, "cores": cores}
    probe0 = harness.hw_probe()
    sampler = RssSampler().start()
    ops = Ops()
    spark = None
    log_dir = work / "eventlog" if args.trace else None
    try:
        t0 = time.perf_counter()
        spark = harness.spark_session(work, cores, event_log=log_dir)
        report["session_start_s"] = time.perf_counter() - t0
        wl = WORKLOADS[args.workload](args.seed, work, cores)
        t0 = time.perf_counter()
        wl.build(work / "inputs")
        report["build_s"] = time.perf_counter() - t0
        # the warm-up comes first, so that it also pays the session's
        # first-job costs and every set-up is measured warm: one iteration
        # of the workload's calls on inputs of the timed size (but not the
        # timed inputs), next to one set-up from another seed
        wl.bind(spark, work / "inputs")
        t0 = time.perf_counter()
        concurrently(lambda: wl.warmup(spark, ops), lambda: engine_setup(
            spark, work / "source" / "warm", args.seed + 1, cores))
        report["warmup_s"] = time.perf_counter() - t0
        setup, scans = [], []
        for k in range(SETUP_REPS):
            dest = work / "source" / f"rep{k}"
            t0 = time.perf_counter()
            scan_s, synth = engine_setup(spark, dest, args.seed, cores)
            wl.bind(spark, work / "inputs")
            setup.append(time.perf_counter() - t0)
            scans.append(scan_s)
        report["input_digests"] = dict(wl.digests,
                                       synth_tokens=check_synth(ops, synth, args.seed))
        scan = (median(scans), _du(dest)[0])
        report["setup_reps_s"] = setup
        rates = kernel_rates(args.seed)
        report["kernel_rates"] = rates
        # a traced run interleaves untraced and traced iterations in one
        # session (untraced, traced, traced, untraced, ...), so that what
        # is left of the JVM's warm-up weighs on both sides alike
        tracer = Tracer(spark.sparkContext if args.trace else None)

        def op(i):
            tr = tracer if i % 4 in (1, 2) else Tracer()
            r = wl.iteration(spark, tr, ops, i)
            r["traced"] = tr.enabled
            return r

        with sampler.window():
            iters = timed_loop(args.seconds, op,
                               min_iters=4 if args.trace else wl.MIN_ITERS)
        wl.check(spark, ops, [r for _, r in iters])
        plain = [(t, r) for t, r in iters if not r["traced"]]
        traced = [(t, r) for t, r in iters if r["traced"]]
        report["iteration_s"] = [r["timed_s"] for _, r in plain]
        report["iteration_wall_s"] = [t for t, _ in iters]
        report["iteration_stage_s"] = [r["stage_s"] for _, r in iters]
        report["stage_s"] = {k: median([r["stage_s"][k] for _, r in plain])
                             for k in plain[0][1]["stage_s"]}
        report["metrics"] = {k: {"value": v, "unit": u}
                             for k, (v, u) in wl.summarize(plain).items()}
        report["metrics"]["error_rate"] = {"value": 0.0, "unit": "ratio"}
        metrics = {
            "setup_s": (median(setup), "s"),
            "peak_rss_mb": (sampler.peak_mb, "MB"),
            "iteration_s": (median(report["iteration_s"]), "s"),
            "iteration_cpu_s": (median([r["cpu_s"] for _, r in plain]), "s"),
        }
        report["hw_probe_s"] = [probe0, harness.hw_probe()]
        if args.trace:
            harness.stop_session(spark)
            spark = None
            groups, sites = harness.fold_event_log(log_dir)
            report["traced_iteration_s"] = [r["timed_s"] for _, r in traced]
            overhead = (median(report["traced_iteration_s"])
                        / metrics["iteration_s"][0] - 1.0)
            metrics, families = per_layer_metrics(
                wl, tracer, groups, traced, rates,
                sum(report["hw_probe_s"]) / 2, overhead, scan, cores)
            layers = {k[5:-2]: v for k, (v, _) in metrics.items()
                      if k.startswith("self.")}
            report["self_time_share"] = _shares(layers)
            report["dominant_layer"] = max(layers, key=layers.get)
            report["self_time_share_by_family"] = {
                f: _shares(v) for f, v in families.items()}
            report["dominant_layer_by_family"] = {
                f: max(v, key=v.get) for f, v in families.items()}
            report["job_call_sites"] = dict(sorted(
                sites.items(), key=lambda kv: -kv[1])[:20])
    finally:
        if spark is not None:
            harness.stop_session(spark)
        sampler.stop()
        shutil.rmtree(work, ignore_errors=True)
    report["attempted"], report["failed"] = ops.attempted, ops.failed
    report["errors"] = ops.errors[:20]
    report["metrics"]["error_rate"]["value"] = ops.failed / max(ops.attempted, 1)
    return report, metrics


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)
    why = _engine_importable()
    if why:
        print(f"perfbench: cannot import the engine: {why}", file=sys.stderr)
        return 2
    report, metrics = run(args)
    # a failed run can leave a rate undefined; JSON has no NaN
    metrics = {k: (v if math.isfinite(v) else 0.0, u)
               for k, (v, u) in metrics.items()}
    out = {
        "correct": report["failed"] == 0,
        "attempted": report["attempted"],
        "failed": report["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    (HERE / "out").mkdir(exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    (HERE / "out" / name).write_text(json.dumps(report, indent=1, default=str))
    print(json.dumps(report, default=str))
    print(json.dumps(out))
    return 0 if out["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
