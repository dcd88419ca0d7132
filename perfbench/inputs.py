"""Seeded input generators for the benchmark workloads.

The benchmark owns its inputs: every timed table is generated here from
the ``--seed`` with numpy, written with pyarrow, and identified by a
SHA-256 digest that the run report records. The engine's own synthesizer
(``sources/tokens.py``) does not make the timed inputs, so a later edit to
it cannot silently change a workload; it runs in the set-up instead, and
its output is checked against ``engine_synth_table``, a numpy replica of
its recipe.

The tokens recipe follows FIXTURES.md §A: Zipf-flavoured lengths clipped
to [32, 16384] with at least 1% of docs at the max length, a random walk
modulo the vocabulary, repeated motif insertions and constant runs.
"""

from __future__ import annotations

import hashlib
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = 50257
MIN_LEN = 32
MAX_LEN = 16384
SOURCES = ("web", "books", "code", "wiki")
FINE_SIZE = 60

TOKENS_SCHEMA = pa.schema([
    pa.field("doc_id", pa.string(), False),
    pa.field("tokens", pa.list_(pa.field("element", pa.int32(), False)), False),
    pa.field("n_tok", pa.int32(), False),
    pa.field("source", pa.string(), False),
])

FINE_SCHEMA = pa.schema([
    ("doc_id", pa.string()), ("source", pa.string()), ("tier", pa.string()),
    ("bucket", pa.int64()), ("cnt", pa.int64()), ("sum_v", pa.int64()),
    ("sumsq", pa.int64()), ("min_v", pa.int32()), ("max_v", pa.int32()),
])


def _rng(seed: int, stream: int, idx: int) -> np.random.Generator:
    return np.random.Generator(
        np.random.Philox(key=seed, counter=[0, 0, stream, idx]))


def doc_tokens(seed: int, idx: int, length: int | None = None,
               stream: int = 1, pin_every: int | None = 100) -> np.ndarray:
    """One doc's token series; ``length`` overrides the Zipf draw. Every
    ``pin_every``-th doc is pinned at the max length, on top of the 1% of
    docs the draw pins."""
    rng = _rng(seed, stream, idx)
    u = rng.random()
    if length is not None:
        n = int(length)
    elif u < 0.01 or (pin_every and idx % pin_every == 0):
        n = MAX_LEN
    else:
        n = int(MIN_LEN + (MAX_LEN - MIN_LEN) * rng.power(0.25))
        n = max(MIN_LEN, min(MAX_LEN, n))
    tok = (10000 + np.cumsum(rng.integers(-40, 41, size=n))) % VOCAB
    motif_len = int(rng.integers(24, 64))
    if n > 4 * motif_len:
        motif = rng.integers(0, VOCAB, size=motif_len)
        for _ in range(int(rng.integers(2, 5))):
            p = int(rng.integers(0, n - motif_len))
            tok[p:p + motif_len] = motif
    if rng.random() < 0.3 and n > 200:
        p = int(rng.integers(0, n - 100))
        tok[p:p + 100] = int(rng.integers(0, VOCAB))
    return tok.astype(np.int32)


class TokenCorpus:
    """An in-memory tokens table: ``docs[i]`` is doc ``ids[i]``'s series."""

    def __init__(self, ids: list[str], docs: list[np.ndarray],
                 sources: list[str] | None = None):
        self.ids = ids
        self.docs = docs
        self.sources = sources or [SOURCES[int(d[-8:]) % len(SOURCES)]
                                   for d in ids]

    @classmethod
    def generate(cls, seed: int, n_docs: int, first: int = 0,
                 lengths: list[int] | None = None) -> "TokenCorpus":
        idx = range(first, first + n_docs)
        return cls(
            [f"doc_{i:08d}" for i in idx],
            [doc_tokens(seed, i, None if lengths is None else lengths[k])
             for k, i in enumerate(idx)],
        )

    @classmethod
    def with_budget(cls, seed: int, budget: float, cost, first: int = 0,
                    ) -> "TokenCorpus":
        """Docs ``first, first+1, ...`` until the summed ``cost(n_tok)``
        reaches ``budget``; the last doc is cut so the sum lands on the
        budget. The work of a workload then hardly varies with the seed."""
        ids, docs, total = [], [], 0.0
        i = first
        while total < budget:
            x = doc_tokens(seed, i)
            last = total + cost(x.size) >= budget
            if last:
                n = x.size
                while n > MIN_LEN and total + cost(n) > budget:
                    n = max(MIN_LEN, int(n * 0.98))
                x = x[:n]
            ids.append(f"doc_{i:08d}")
            docs.append(x)
            total += cost(x.size)
            i += 1
            if last:
                break
        return cls(ids, docs)

    @property
    def n_tok(self) -> np.ndarray:
        return np.array([d.size for d in self.docs], dtype=np.int64)

    def table(self) -> pa.Table:
        offsets = np.concatenate(([0], np.cumsum(self.n_tok))).astype(np.int32)
        flat = (np.concatenate(self.docs) if self.docs
                else np.empty(0, dtype=np.int32))
        tokens = pa.ListArray.from_arrays(pa.array(offsets), pa.array(flat))
        return pa.Table.from_arrays(
            [pa.array(self.ids), tokens, pa.array(self.n_tok.astype(np.int32)),
             pa.array(self.sources)],
            schema=TOKENS_SCHEMA,
        )

    def fine_tier(self) -> pa.Table:
        """The exact 1m tier (60-offset buckets, int64 sums) in numpy."""
        cols = {k: [] for k in FINE_SCHEMA.names}
        for doc_id, src, x in zip(self.ids, self.sources, self.docs):
            nb = -(-x.size // FINE_SIZE)
            starts = np.arange(nb) * FINE_SIZE
            xl = x.astype(np.int64)
            cols["doc_id"].append(np.full(nb, doc_id, dtype=object))
            cols["source"].append(np.full(nb, src, dtype=object))
            cols["tier"].append(np.full(nb, "1m", dtype=object))
            cols["bucket"].append(np.arange(nb, dtype=np.int64))
            cols["cnt"].append(np.minimum(FINE_SIZE, x.size - starts))
            cols["sum_v"].append(np.add.reduceat(xl, starts))
            cols["sumsq"].append(np.add.reduceat(xl * xl, starts))
            cols["min_v"].append(np.minimum.reduceat(x, starts))
            cols["max_v"].append(np.maximum.reduceat(x, starts))
        return pa.Table.from_arrays(
            [pa.array(np.concatenate(cols[f.name]), type=f.type)
             for f in FINE_SCHEMA],
            schema=FINE_SCHEMA,
        )


GOLDEN_FIXTURE = Path(__file__).resolve().parents[1] / "tests" / "fixtures" / "goldens.json"


def engine_synth_table(seed: int, n_docs: int) -> pa.Table:
    """What ``sources.tokens.synth_tokens_df(spark, n_docs, seed)`` must
    produce, computed in numpy and sorted by doc id: docs ``0 .. n_docs-1``
    drawn from Philox stream 0 with no pinned docs, their source by index,
    and the reference golden series stored as ``round(v * 1000) + 10000``."""
    import json

    golden = np.asarray(json.loads(GOLDEN_FIXTURE.read_text())["series"])
    ids = [f"doc_{i:08d}" for i in range(n_docs)]
    docs = [doc_tokens(seed, i, stream=0, pin_every=None) for i in range(n_docs)]
    c = TokenCorpus(
        ids + ["ref_motifs_discords_small"],
        docs + [(np.round(golden * 1000.0) + 10000).astype(np.int32)],
        [SOURCES[i % len(SOURCES)] for i in range(n_docs)] + ["ref"])
    return c.table()


WORDS = ("the a fast slow big small key value row column table scan join "
         "hash sort merge group agg filter order part line customer data "
         "batch stream spark window vector query").split()
LANGS = ("en", "de", "fr", "es", "zh")


def documents(seed: int, n_docs: int, first: int = 0) -> pa.Table:
    """A ``documents`` table shaped like the engine's sf tables: word
    texts of 8-90 words from a 30-word vocabulary. One doc in 8 is an edited
    copy of an earlier doc and one in 25 an exact copy, so the dedup
    queries find pairs."""
    rng = _rng(seed, 2, first)
    texts: list[str] = []
    for i in range(n_docs):
        r = rng.random()
        if texts and r < 0.04:
            texts.append(texts[int(rng.integers(0, len(texts)))])
            continue
        if texts and r < 0.165:
            words = texts[int(rng.integers(0, len(texts)))].split(" ")
            for _ in range(int(rng.integers(1, 4))):
                words[int(rng.integers(0, len(words)))] = WORDS[
                    int(rng.integers(0, len(WORDS)))]
        else:
            words = [WORDS[k] for k in rng.integers(
                0, len(WORDS), size=int(rng.integers(8, 91)))]
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(first, first + n_docs), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[k] for k in rng.integers(0, 5, n_docs)]),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(seed: int, n_vecs: int, dim: int = 64, first: int = 0
               ) -> pa.Table:
    """An ``embeddings`` table: unit float32 vectors around 10 label
    centroids, so near-duplicate pairs exist above a 0.2 cosine."""
    rng = _rng(seed, 3, first)
    centers = rng.standard_normal((10, dim))
    label = rng.integers(0, 10, n_vecs)
    v = centers[label] * 0.35 + rng.standard_normal((n_vecs, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    v = v.astype(np.float32)
    flat = pa.array(v.ravel())
    offsets = pa.array(np.arange(0, (n_vecs + 1) * dim, dim, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(first, first + n_vecs), pa.int64()),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(label.astype(np.int32)),
    })


def write(table: pa.Table, path: Path) -> str:
    """Write ``table`` as a parquet directory of 8 files and return the
    digest of its contents."""
    path.mkdir(parents=True, exist_ok=True)
    step = -(-table.num_rows // 8) or 1
    for k, lo in enumerate(range(0, max(table.num_rows, 1), step)):
        pq.write_table(table.slice(lo, step), path / f"part-{k:05d}.parquet")
    return digest(table)


def digest(table: pa.Table) -> str:
    """SHA-256 over every column's Arrow buffers, in row order."""
    h = hashlib.sha256()
    for col in table.combine_chunks().columns:
        for chunk in col.chunks:
            for buf in chunk.buffers():
                if buf is not None:
                    h.update(buf)
    return h.hexdigest()[:16]
