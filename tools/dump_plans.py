"""Dump .explain('formatted') plans, so plan quality (pruning, pushdown,
single-shuffle cascades, broadcast joins) is reviewable without running
Spark.

    python tools/dump_plans.py
        writes the flagship stages' plans to BENCH/PLANS.md

    python tools/dump_plans.py <out_dir> <suffix> [query ...]
        writes <out_dir>/<query>_<suffix>.txt for each named queries()
        entry. With no names it dumps a default set plus the lifecycle
        jobs' serving reads and store file counts. Run it once on the tree
        before a change (suffix 'before') and once after ('after') and diff.
"""

from __future__ import annotations

import sys
import tempfile
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF = "/root/testdata/sf0.001"
DEFAULT_QUERIES = [
    "realtime_rollup", "rollup_1m", "text_stats", "sliding_stats_w8",
    "matrix_profile_w8", "mass_w8", "zero_crossings_w16",
    "dedup_ngram_jaccard", "dedup_minhash_lsh",
]


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def session():
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def flagship_sections(spark) -> dict:
    from pyspark.sql import functions as F

    from matrixprofiler_spark.operators.asof import asof_join
    from matrixprofiler_spark.operators.dedup import minhash_lsh_pairs
    from matrixprofiler_spark.operators.mp_ops import (
        matrix_profile_blobs,
        matrix_profile_distributed,
    )
    from matrixprofiler_spark.operators.rangejoin import range_join
    from matrixprofiler_spark.operators.rollup import (
        cascade_tier,
        finest_rollup,
        gap_fill,
        window_stats_chunked,
    )
    from matrixprofiler_spark.operators.similarity import (
        cosine_pairs_above,
        cosine_topk,
        srp_pairs_above,
    )
    from matrixprofiler_spark.sources.tokens import tokens_from_documents

    tok = tokens_from_documents(spark, SF)
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")

    sections = {
        "finest_rollup (kernel on pruned scan, zero shuffles)": finest_rollup(tok),
        "finest_rollup with source filter (pushdown)": finest_rollup(
            tok.filter(F.col("source") == "src1")
        ),
        "tier cascade 1m->1h (map-side partial agg, one Exchange)": cascade_tier(
            finest_rollup(tok), 60, 3600, "1h"
        ),
        "gap_fill (generated spine + equi-join)": gap_fill(finest_rollup(tok)),
        "window_stats_chunked (offset-range chunking, JVM-side slice)":
            window_stats_chunked(tok, 64, chunk_len=500),
        "cosine_topk (broadcast query side)": cosine_topk(emb, k=1, num_queries=5),
        "cosine_pairs_above (cogrouped block join, no driver collect)":
            cosine_pairs_above(emb, threshold=0.3, num_blocks=4),
        "srp_pairs_above (LSH bucket equi-join, sub-quadratic)":
            srp_pairs_above(emb, threshold=0.3, n_planes=4),
        "matrix_profile_distributed (tile self-join + map-side min-merge)":
            matrix_profile_distributed(tok, 8, chunk_len=24),
    }
    ev = spark.read.parquet(f"{SF}/events.parquet").select(
        "event_id", "user_id",
        F.expr(
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '2024-01-01 00:00:00', ts)"
        ).cast("long").alias("t"),
    )
    iv = ev.groupBy("user_id").agg(
        F.min("t").alias("lo"), F.max("t").alias("hi"), F.count("*").alias("n")
    )
    r = iv.select("user_id", F.col("lo").alias("t"), "n")
    sections["asof_join (union-tag + per-key window, one shuffle)"] = asof_join(
        ev, r, "user_id", "t", ["n"]
    )
    sections["range_join (bucketized interval equi-join, no nested loop)"] = range_join(
        ev, iv, "user_id", "t", "lo", "hi", 3600_000_000
    )
    sections[
        "asof_join SALTED (hot-key-safe: window on (key, time-range) + boundary carry)"
    ] = asof_join(ev, r, "user_id", "t", ["n"], split_width=86400.0)
    # the remaining top-5 bench stages (BENCH_r04 cost order)
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    sections[
        "dedup_minhash_lsh (banded equi-join, bucket cap, no cartesian)"
    ] = minhash_lsh_pairs(docs, max_bucket=256)
    sections[
        "matrix_profile_blobs (per-doc MPX kernel directly on salted scan)"
    ] = matrix_profile_blobs(tok, w=8, max_tokens=256, num_partitions=4)
    return sections


def write_plans_md(spark) -> None:
    out = ["# Physical plans of the flagship stages",
           "",
           "Generated by tools/dump_plans.py (`df.explain('formatted')`).",
           ""]
    for title, df in flagship_sections(spark).items():
        out.append(f"## {title}\n")
        out.append("```")
        out.append(plan_of(df).rstrip())
        out.append("```\n")
    (REPO / "BENCH" / "PLANS.md").write_text("\n".join(out))
    print("wrote BENCH/PLANS.md")


def dump_lifecycle(spark, out_dir: Path, suffix: str) -> None:
    """Run a tiny compression and expiry job, then dump the serving-read
    plans and the store file censuses (a layout change shows in these)."""
    import glob

    from matrixprofiler_spark.operators.rollup import finest_rollup
    from matrixprofiler_spark.sources.tokens import tokens_from_documents
    from matrixprofiler_spark.streaming.compress import CompressionPolicyJob
    from matrixprofiler_spark.streaming.expiry import RetentionExpiryJob

    fine = finest_rollup(tokens_from_documents(spark, SF), 16).cache()
    fine.count()

    base_c = tempfile.mkdtemp(prefix="plans_compress_")
    cjob = CompressionPolicyJob(spark, base_c, 16, 64, 16, n_groups=4)
    cjob.run(fine)
    nseg_files = len(glob.glob(base_c + "/segments/grp=*/*.parquet"))
    nhead_files = len(glob.glob(base_c + "/head/grp=*/*.parquet"))
    txt = (
        f"segment store parquet files: {nseg_files}\n"
        f"head store parquet files: {nhead_files}\n\n"
        + plan_of(cjob.read_fine(bucket_min=0, bucket_max=3))
    )
    (out_dir / f"compressed_range_read_{suffix}.txt").write_text(txt)
    print("dumped compressed_range_read")

    base_e = tempfile.mkdtemp(prefix="plans_expiry_")
    ejob = RetentionExpiryJob(spark, base_e, 16, 64, 32, n_groups=4)
    ejob.run(fine)
    ncomp_files = len(glob.glob(base_e + "/compacted/grp=*/*.parquet"))
    txt = (
        f"compacted store parquet files: {ncomp_files}\n\n"
        + plan_of(ejob.result())
    )
    (out_dir / f"retention_expiry_result_{suffix}.txt").write_text(txt)
    print("dumped retention_expiry_result")


def dump_queries(spark, out_dir: Path, suffix: str, names: list[str]) -> None:
    from matrixprofiler_spark.queries import queries

    out_dir.mkdir(parents=True, exist_ok=True)
    reg = queries()
    for n in names or DEFAULT_QUERIES:
        try:
            (out_dir / f"{n}_{suffix}.txt").write_text(plan_of(reg[n](spark, SF)))
            print("dumped", n)
        except Exception as e:  # noqa: BLE001 - report and continue
            print("FAILED", n, e)
    if not names:
        dump_lifecycle(spark, out_dir, suffix)


def main():
    spark = session()
    if len(sys.argv) > 1:
        dump_queries(spark, Path(sys.argv[1]), sys.argv[2], sys.argv[3:])
    else:
        write_plans_md(spark)
    spark.stop()


if __name__ == "__main__":
    main()
