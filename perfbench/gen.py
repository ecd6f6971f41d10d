"""Seeded input generator for the benchmark.

NumPy + pyarrow, written as parquet; the engine only ever sees the written
tables. The seed moves gap placement and token content; the sizes come
from the shape alone, so two seeds give inputs of the same size (up to the
~5% of randomly dropped buckets).

``sequences``: the mandated ``(doc_id string, tokens array<int32>, n_tok
int32, source string)`` table. Per (source, minute bucket) the document
count follows a stationary seasonal rate with the Zipf source weights of
``hastl_spark.sources.sequences``; about 5% of buckets are dropped at
random and every source loses one contiguous 3-bucket run per day, which
is what the STL gap-fill has to fill. Event time is encoded in ``doc_id``
the way the engine decodes it (``seq = bucket * SEQS_PER_BUCKET + k``).
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from hastl_spark.sources.sequences import (N_P_BUCKETS, SEQS_PER_BUCKET, VOCAB,
                                           source_names, source_weights)

BUCKETS_PER_DAY = 1440
GAP_FRAC = 0.05
DAY_GAP_LEN = 3


@dataclass(frozen=True)
class SeqShape:
    n_sources: int
    n_buckets: int
    base_rate: float      # mean docs per bucket summed over sources
    tok_lo: int
    tok_hi: int


def _day_block(seed: int, shape: SeqShape, s: int, day: int,
               lo: int, hi: int):
    """Rows of source ``s`` for buckets [lo, hi) inside one day. The RNG is
    keyed by (seed, source, day), so a day's rows do not depend on which
    range of days a call generates."""
    rng = np.random.default_rng([seed, s, day])
    b = np.arange(day * BUCKETS_PER_DAY, (day + 1) * BUCKETS_PER_DAY)
    keep = rng.random(b.size) >= GAP_FRAC
    g0 = rng.integers(0, BUCKETS_PER_DAY - DAY_GAP_LEN + 1)
    keep[g0:g0 + DAY_GAP_LEN] = False
    b = b[keep]
    rate = shape.base_rate * source_weights(shape.n_sources)[s]
    n_docs = np.maximum(1, np.round(
        rate * (1.0 + 0.45 * np.sin(2.0 * math.pi * b / N_P_BUCKETS)))
    ).astype(np.int64)
    bucket = np.repeat(b, n_docs)
    k = np.arange(bucket.size) - np.repeat(np.cumsum(n_docs) - n_docs, n_docs)
    n_tok = rng.integers(shape.tok_lo, shape.tok_hi + 1,
                         size=bucket.size).astype(np.int32)
    tokens = rng.integers(0, VOCAB, size=int(n_tok.sum()), dtype=np.int32)
    # rows are bucket-ordered, so [lo, hi) is one contiguous row range
    r0, r1 = np.searchsorted(bucket, [lo, hi])
    ends = np.cumsum(n_tok, dtype=np.int64)
    t0 = int(ends[r0 - 1]) if r0 else 0
    t1 = int(ends[r1 - 1]) if r1 else 0
    return (bucket[r0:r1] * SEQS_PER_BUCKET + k[r0:r1], n_tok[r0:r1],
            tokens[t0:t1])


def sequences(seed: int, shape: SeqShape, lo: int = 0,
              hi: int | None = None) -> pa.Table:
    """The sequences rows of buckets [lo, hi) (default: the whole shape)."""
    hi = shape.n_buckets if hi is None else hi
    names = source_names(shape.n_sources)
    seqs, ntoks, toks, srcs = [], [], [], []
    for s in range(shape.n_sources):
        for day in range(lo // BUCKETS_PER_DAY,
                         (hi - 1) // BUCKETS_PER_DAY + 1):
            seq, n_tok, tokens = _day_block(seed, shape, s, day, lo, hi)
            seqs.append(seq)
            ntoks.append(n_tok)
            toks.append(tokens)
            srcs.append(np.full(seq.size, s, dtype=np.int32))
    seq = np.concatenate(seqs)
    n_tok = np.concatenate(ntoks)
    src_idx = np.concatenate(srcs)
    offsets = np.zeros(n_tok.size + 1, dtype=np.int32)
    np.cumsum(n_tok, out=offsets[1:])
    source = pa.DictionaryArray.from_arrays(
        pa.array(src_idx), pa.array(names)).cast(pa.string())
    doc_id = pc.binary_join_element_wise(
        source, pc.utf8_lpad(pc.cast(pa.array(seq), pa.string()), 10, "0"),
        "-")
    return pa.table({
        "doc_id": doc_id,
        "tokens": pa.ListArray.from_arrays(pa.array(offsets),
                                           pa.array(np.concatenate(toks))),
        "n_tok": pa.array(n_tok),
        "source": source,
    })


def write_parquet_dir(table: pa.Table, path: str, n_files: int) -> None:
    """Write ``table`` as ``n_files`` parquet files, so a scan gets as many
    tasks as a many-file table would give it."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        part = table.slice(i * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"))
