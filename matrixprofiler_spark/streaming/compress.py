"""Compression policy: the TimescaleDB ``compress_chunks`` analog.

The retention stack so far covers the serving view (``retention_policy``)
and physical expiry (``RetentionExpiryJob`` — the ``drop_chunks`` analog).
This module adds the third TimescaleDB lifecycle stage the north star
names explicitly ("Gorilla XOR + delta-of-delta encoding of rolled-up
points into binary columns"): a snapshot-committed job that physically
REWRITES aged fine-tier rows into delta-of-delta-encoded columnar segment
blobs, exactly the way ``compress_chunks`` turns a row chunk into
compressed per-column batches (segmentby = (doc_id, source), orderby =
bucket), while recent rows stay row-form for cheap appends/queries.

Semantics (per-doc watermark math shared with the expiry job /
``retention_policy`` serving view):

* per-doc watermark  ``wm = (max(bucket)+1) * fine_size``
* compress cutoff    ``cut = floor((wm - horizon)/chunk_span)*chunk_span``
  — aligned DOWN to the chunk grid, so compression moves in whole-chunk
  quanta (TimescaleDB compresses whole chunks, never partial ones)
* a fine bucket is COMPRESSED iff ``(bucket+1)*fine_size <= cut``;
  otherwise it stays in the row-form HEAD store.

A segment is one (doc_id, source, chunk) group — ``chunk =
bucket*fine_size // chunk_span`` — holding at most ``chunk_span /
fine_size`` buckets, each stat column delta-of-delta encoded (all fine
stat columns are exact integers; DoD round-trips any int64 —
codec-tested). Unlike expiry, NO information is dropped:
``read_fine()`` (head UNION decoded segments) is row-identical to the
input store — pytest-asserted, and the driver face hashes the decoded
store so the oracle certifies decode(encode(x)) == x through a resumed
commit.

Segment rows carry ``b_min``/``b_max`` bucket bounds, so a range query
prunes segments BEFORE any decode work — the chunk-exclusion analog;
``read_fine(bucket_min=..., bucket_max=...)`` pushes those bounds to the
parquet scan (plan-tested) and only surviving segments reach the
Arrow decode kernel.

Commit contract: identical to :class:`RetentionExpiryJob` (staged
hive-partitioned input bound to one (input, policy) fingerprint;
per-group lineage manifests written LAST via write-then-rename as the
commit point; idempotent data overwrites; kill-and-resume pytested).

Scale shape: one staged write + n_groups pruned reads; per group one
map-side-combinable watermark aggregate over ROLLUP rows, one equi-join
on (doc_id, source), one applyInPandas whose groups are bounded by the
chunk grid (<= chunk_span/fine_size rows each — no skew regardless of
doc length). At 1000 executors each group maps to Iceberg partition
REPLACE WHERE commits exactly as the expiry job documents. Reference
analog for the precompute/serve lifecycle: the stats-struct reuse of
/root/reference/src/mass.cpp:408-443.
"""

from __future__ import annotations

import json
import os
import time
from pathlib import Path

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import __version__
from ..codecs import dod_decode, dod_decode_many, dod_encode_many
from .checkpoint import read_manifest
from .expiry import RetentionExpiryJob

STAGE = "compress"

FINE_COLS = ["doc_id", "source", "bucket", "cnt", "sum_v", "sumsq",
             "min_v", "max_v"]
_STAT_COLS = ["bucket", "cnt", "sum_v", "sumsq", "min_v", "max_v"]

SEGMENT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("source", T.StringType(), False),
        T.StructField("chunk", T.LongType(), False),
        T.StructField("n_rows", T.IntegerType(), False),
        T.StructField("b_min", T.LongType(), False),
        T.StructField("b_max", T.LongType(), False),
        # value zone map (parquet row-group-stats / chunk-skipping analog):
        # bounds of the token values inside the segment, so a value
        # predicate can skip segments without decoding them
        T.StructField("v_min", T.IntegerType(), False),
        T.StructField("v_max", T.IntegerType(), False),
        T.StructField("bucket_blob", T.BinaryType(), False),
        T.StructField("cnt_blob", T.BinaryType(), False),
        T.StructField("sum_blob", T.BinaryType(), False),
        T.StructField("sumsq_blob", T.BinaryType(), False),
        T.StructField("min_blob", T.BinaryType(), False),
        T.StructField("max_blob", T.BinaryType(), False),
        T.StructField("blob_bytes", T.LongType(), False),
    ]
)

# batch-write schema: the commit-group column rides along so the whole
# batch can be written hive-partitioned by grp in one job
_SEG_WRITE_SCHEMA = T.StructType(
    [T.StructField("grp", T.LongType(), False), *SEGMENT_SCHEMA.fields]
)

_FINE_OUT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("source", T.StringType(), False),
        T.StructField("bucket", T.LongType(), False),
        T.StructField("cnt", T.LongType(), False),
        T.StructField("sum_v", T.LongType(), False),
        T.StructField("sumsq", T.LongType(), False),
        T.StructField("min_v", T.IntegerType(), False),
        T.StructField("max_v", T.IntegerType(), False),
    ]
)


def _pack_segments_batch(batches):
    """Arrow-batched segment packer: the rows of each segment arrive
    pre-grouped JVM-side (sort_array(collect_list(struct)) per (doc,
    source, chunk)) as one array column per stat, so ONE
    ``dod_encode_many`` call per column encodes every segment in the
    batch — 18x less per-segment Python than the per-group
    applyInPandas + per-call dod_encode shape (measured 440 -> 24 us
    per 60-row segment)."""
    for b in batches:
        if not len(b):
            continue
        cols = {c: [np.asarray(a, dtype=np.int64) for a in b[f"a_{c}"]]
                for c in _STAT_COLS}
        blobs = {c: dod_encode_many(cols[c]) for c in _STAT_COLS}
        n = len(b)
        yield pd.DataFrame(
            {
                "grp": b["grp"].to_numpy(dtype=np.int64),
                "doc_id": b["doc_id"].to_numpy(),
                "source": b["source"].to_numpy(),
                "chunk": b["chunk"].to_numpy(dtype=np.int64),
                "n_rows": [a.size for a in cols["bucket"]],
                "b_min": [int(a[0]) for a in cols["bucket"]],
                "b_max": [int(a[-1]) for a in cols["bucket"]],
                "v_min": [int(a.min()) for a in cols["min_v"]],
                "v_max": [int(a.max()) for a in cols["max_v"]],
                "bucket_blob": blobs["bucket"],
                "cnt_blob": blobs["cnt"],
                "sum_blob": blobs["sum_v"],
                "sumsq_blob": blobs["sumsq"],
                "min_blob": blobs["min_v"],
                "max_blob": blobs["max_v"],
                "blob_bytes": [
                    sum(len(blobs[c][i]) for c in _STAT_COLS)
                    for i in range(n)
                ],
            }
        )


def _decode_segments(batches):
    blob_cols = ["bucket_blob", "cnt_blob", "sum_blob", "sumsq_blob",
                 "min_blob", "max_blob"]
    for b in batches:
        if not len(b):
            continue
        nseg = len(b)
        # ONE lockstep-vectorized decode for every blob of every segment in
        # the batch (column-major: all bucket blobs, then all cnt blobs, ...)
        # — the former per-segment x per-column dod_decode loop paid a
        # Python bit-reader iteration per VALUE (~14x slower, measured)
        all_blobs: list = []
        for bc in blob_cols:
            all_blobs.extend(b[bc].tolist())
        dec = dod_decode_many(all_blobs)
        n = b["n_rows"].to_numpy()
        out = {
            "doc_id": np.repeat(b["doc_id"].to_numpy(), n),
            "source": np.repeat(b["source"].to_numpy(), n),
        }
        for ci, c in enumerate(_STAT_COLS):
            out[c] = np.concatenate(dec[ci * nseg : (ci + 1) * nseg])
        out["min_v"] = out["min_v"].astype(np.int32)
        out["max_v"] = out["max_v"].astype(np.int32)
        yield pd.DataFrame(out)


class CompressionPolicyJob(RetentionExpiryJob):
    """Partition-grouped, resumable compression of a fine-tier rollup
    store into head rows + DoD segment blobs. ``chunk_span`` (token
    positions per compressed chunk, a multiple of ``fine_size``) plays
    the parent's ``coarse_size`` role in the cutoff alignment;
    ``horizon`` is how much recent history stays row-form."""

    STAGE = STAGE

    def __init__(self, spark: SparkSession, base_dir: str | Path,
                 fine_size: int, chunk_span: int, horizon: int,
                 n_groups: int = 8):
        super().__init__(spark, base_dir, fine_size, chunk_span, horizon,
                         n_groups=n_groups)
        self.chunk_span = chunk_span

    # ---------------------------------------------------------- staging

    def stage_input(self, fine: DataFrame) -> DataFrame:
        missing = [c for c in FINE_COLS if c not in fine.columns]
        if missing:
            raise ValueError(
                f"fine store is missing columns {missing}; the compression "
                f"job stores exactly {FINE_COLS} (a single-tier store — "
                "constant columns like `tier` are the caller's to re-attach)"
            )
        return super().stage_input(fine.select(*FINE_COLS))

    # ------------------------------------------------------------- run

    def run(self, fine: DataFrame, fail_after: int | None = None,
            parallelism: int | None = None) -> list[int]:
        """Compress all incomplete groups IN ONE DATA PASS: head and
        segments are written as whole-batch hive-partitioned writes with
        dynamic partition overwrite (only the incomplete groups'
        partitions are touched — committed groups' data is never
        rewritten), then per-group manifests are derived from one grouped
        read-back each. This replaces the former one-job-chain-per-group
        loop, whose ~5 serialized driver actions per group dominated wall
        time at any sandbox size (measured: 2→8 cores sped the loop up
        only 1.06x; the batch shape is also the right cluster plan — one
        big job saturates executors where 64 small ones idle them).

        ``fail_after`` (kill-injection tests) restricts the batch to the
        first N incomplete groups and raises after committing them —
        observable semantics identical to the old sequential loop.
        ``parallelism`` is accepted for API compatibility and ignored:
        batch writes parallelize by partition, not by driver thread.

        Manifest censuses are OBSERVED on the two data writes (guide
        §1.4/§2.3): per-group head rows ride the head write; per-group
        segment count / compressed rows / blob bytes ride the segment
        write (segment rows carry ``n_rows``/``blob_bytes``), and
        ``rows_in = rows_head + rows_compressed`` holds by construction
        (the two predicates partition the store). The former separate
        input-count job and the two read-back jobs — three extra passes
        per run — are gone, and every batch group with no head or no
        segment rows gets a schema-bearing empty partition backfill, so
        a store where nothing (or everything) aged past the horizon
        stays readable on both roots."""
        from pyspark.sql import Observation

        staged = self.stage_input(fine)
        fp = json.loads((self.base / "input_fingerprint.json").read_text())
        todo = self._todo_groups()
        if not todo:
            return []
        batch = todo[:fail_after] if fail_after is not None else todo
        inject = fail_after is not None and fail_after < len(todo)
        if batch:
            t0 = time.time()
            sub = staged.where(F.col("grp").isin([int(k) for k in batch]))
            head_root = str(self.base / "head")
            seg_root = str(self.base / "segments")
            # a doc lives wholly in one group (grp = hash(doc_id) %
            # n_groups), so the watermark needs no grp key
            wm = sub.groupBy("doc_id", "source").agg(
                ((F.max("bucket") + 1) * self.fine_size).alias("wm"))
            cut = (
                F.floor((F.col("wm") - self.horizon) / self.chunk_span)
                * self.chunk_span
            ).cast("long")
            # persist: the head and segment branches both consume the
            # join; uncached, each re-runs the scan + watermark shuffle
            joined = sub.join(wm, ["doc_id", "source"]).persist()
            compress_pred = (F.col("bucket") + 1) * self.fine_size <= cut
            head = joined.where(~compress_pred).drop("wm")
            cold = (
                joined.where(compress_pred).drop("wm")
                .withColumn(
                    "chunk",
                    F.floor(F.col("bucket") * self.fine_size
                            / self.chunk_span).cast("long"),
                )
            )

            # group JVM-side (sort_array guarantees bucket order —
            # bucket is the struct's first field and unique within a
            # segment), then encode every segment of an Arrow batch in
            # one vectorized pass
            def _field(c):
                # single-arg lambda: a 2-arg one would be read by
                # F.transform as (element, index)
                return lambda x: x.getField(c).cast("long")

            grouped = (
                cold.groupBy("grp", "doc_id", "source", "chunk")
                .agg(F.sort_array(F.collect_list(F.struct(*_STAT_COLS)))
                     .alias("r"))
                .select(
                    "grp", "doc_id", "source", "chunk",
                    *[F.transform("r", _field(c)).alias(f"a_{c}")
                      for c in _STAT_COLS],
                )
            )
            segments = grouped.mapInPandas(
                _pack_segments_batch, schema=_SEG_WRITE_SCHEMA)

            def _per_grp(val, name):
                return [
                    F.sum(F.when(F.col("grp") == int(k), val).otherwise(0))
                    .alias(f"{name}_{k}")
                    for k in batch
                ]

            obs_h = Observation("head_census")
            obs_s = Observation("seg_census")
            try:
                (self._write_layout(head)
                 .observe(obs_h, *_per_grp(F.lit(1), "rows"))
                 .write.mode("overwrite")
                 .option("partitionOverwriteMode", "dynamic")
                 .partitionBy("grp").parquet(head_root))
                (self._write_layout(segments)
                 .observe(obs_s,
                          *_per_grp(F.lit(1), "nseg"),
                          *_per_grp(F.col("n_rows"), "rows"),
                          *_per_grp(F.col("blob_bytes"), "bytes"))
                 .write.mode("overwrite")
                 .option("partitionOverwriteMode", "dynamic")
                 .partitionBy("grp").parquet(seg_root))
            finally:
                joined.unpersist()
            hm, sm = obs_h.get, obs_s.get
            head_stats = {k: int(hm[f"rows_{k}"] or 0) for k in batch}
            seg_stats = {
                k: {"n_segments": int(sm[f"nseg_{k}"] or 0),
                    "rows_compressed": int(sm[f"rows_{k}"] or 0),
                    "blob_bytes": int(sm[f"bytes_{k}"] or 0)}
                for k in batch
            }
            # schema-bearing empty partitions for batch groups the
            # dynamic writes skipped (nothing cold / nothing hot / no
            # rows at all), so both roots stay readable
            empty_head = staged.limit(0).drop("grp")
            empty_seg = self.spark.createDataFrame([], SEGMENT_SCHEMA)
            for k in batch:
                if head_stats[k] == 0:
                    empty_head.write.mode("overwrite").parquet(
                        str(Path(head_root) / f"grp={k}"))
                if seg_stats[k]["n_segments"] == 0:
                    empty_seg.write.mode("overwrite").parquet(
                        str(Path(seg_root) / f"grp={k}"))
            elapsed = time.time() - t0
            share = elapsed / len(batch)
            for k in batch:
                sc = seg_stats[k]
                rows_compressed = sc["rows_compressed"]
                rows_in = head_stats[k] + rows_compressed
                self._commit_manifest(k, {
                    "stage": self.STAGE,
                    "part": k,
                    "rows_in": int(rows_in),
                    "rows_head": head_stats[k],
                    "rows_compressed": rows_compressed,
                    "n_segments": sc["n_segments"],
                    "blob_bytes": sc["blob_bytes"],
                    # 6 int64 stat columns per row-form fine row
                    "logical_bytes": rows_compressed * 8 * len(_STAT_COLS),
                    "policy": {
                        "fine_size": self.fine_size,
                        "chunk_span": self.chunk_span,
                        "horizon": self.horizon,
                    },
                    # the batch write is shared work: per-group wall time
                    # is reported as an equal share of the batch elapsed
                    "elapsed_sec": round(share, 3),
                    "rows_per_sec": round(rows_in / share, 1)
                    if share else None,
                    "kernel_version": __version__,
                    "input_fingerprint": fp,
                    "committed_at": time.strftime(
                        "%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
                })
        if inject:
            raise RuntimeError(f"injected failure after {fail_after} groups")
        if len(self.completed_groups()) == self.n_groups:
            (self.base / f"_stage_{self.STAGE}_COMMITTED").touch()
        return list(batch)

    # --------------------------------------------------------- reading

    def head(self) -> DataFrame:
        """Recent rows still in row form (full commit required)."""
        self._require_committed()
        return self.spark.read.parquet(str(self.base / "head")).drop("grp")

    def segments(self, bucket_min: int | None = None,
                 bucket_max: int | None = None,
                 max_v_at_least: int | None = None) -> DataFrame:
        """Compressed segment rows, chunk-excluded by the requested bucket
        range and/or value threshold BEFORE any decode — the
        ``b_min``/``b_max``/``v_max`` predicates reach the parquet scan as
        pushed filters (plan-tested). ``max_v_at_least`` skips segments
        whose value zone map proves no row inside can reach the threshold
        (``v_max`` is the max over the segment's ``max_v`` rows)."""
        self._require_committed()
        seg = self.spark.read.parquet(str(self.base / "segments")).drop("grp")
        if bucket_min is not None:
            seg = seg.filter(F.col("b_max") >= int(bucket_min))
        if bucket_max is not None:
            seg = seg.filter(F.col("b_min") <= int(bucket_max))
        if max_v_at_least is not None:
            seg = seg.filter(F.col("v_max") >= int(max_v_at_least))
        return seg

    def read_fine(self, bucket_min: int | None = None,
                  bucket_max: int | None = None,
                  max_v_at_least: int | None = None) -> DataFrame:
        """The transparently-decoding serving view: head UNION decoded
        segments; with no predicates, row-identical to the input fine
        store (pytest-asserted + driver-face-hashed). With a bucket range
        or a ``max_v`` threshold, segment pruning (chunk exclusion /
        value zone map) happens before decode and the exact row filter
        after."""
        cold = self.segments(bucket_min, bucket_max, max_v_at_least) \
            .mapInPandas(_decode_segments, schema=_FINE_OUT_SCHEMA)
        head = self.head().select(*FINE_COLS)
        out = head.unionByName(cold.select(*FINE_COLS))
        if bucket_min is not None:
            out = out.filter(F.col("bucket") >= int(bucket_min))
        if bucket_max is not None:
            out = out.filter(F.col("bucket") <= int(bucket_max))
        if max_v_at_least is not None:
            out = out.filter(F.col("max_v") >= int(max_v_at_least))
        return out

    def result(self) -> DataFrame:
        """Alias for the full serving view (contract parity with the
        expiry job's ``result``)."""
        return self.read_fine()

    def watermarks(self) -> DataFrame:
        raise NotImplementedError(
            "compression drops no rows, so the watermark stays derivable "
            "from the store itself — read_fine() and retention_policy "
            "recompute it; no stored watermark table exists"
        )

    def serving_view(self, coarse: DataFrame) -> DataFrame:  # pragma: no cover
        raise NotImplementedError(
            "compose explicitly: retention_policy(job.read_fine(), coarse, "
            "...) — the compressed store is a drop-in fine tier"
        )

    def metrics(self) -> dict:
        ms = [read_manifest(self.base, self.STAGE, k)
              for k in range(self.n_groups)]
        ms = [m for m in ms if m is not None]
        blob = sum(m["blob_bytes"] for m in ms)
        logical = sum(m["logical_bytes"] for m in ms)
        return {
            "groups_committed": len(ms),
            "rows_in": sum(m["rows_in"] for m in ms),
            "rows_head": sum(m["rows_head"] for m in ms),
            "rows_compressed": sum(m["rows_compressed"] for m in ms),
            "n_segments": sum(m["n_segments"] for m in ms),
            "blob_bytes": blob,
            "logical_bytes": logical,
            "compression_ratio": round(logical / blob, 3) if blob else None,
            "elapsed_sec": round(sum(m["elapsed_sec"] for m in ms), 3),
        }
