"""Gorilla chunk materialization: tier series -> compressed chunk rows.

One ``applyInPandas`` per (source): sort by bucket inside the group (cheaper
than a global sort — ordering is only needed within a chunk), encode with the
vectorized codec, emit one row per chunk with stats. Chunk size bounds both
UDF memory and point-lookup read amplification.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from .gorilla import chunk_stats, encode

CHUNK_SCHEMA = (
    "source string, chunk_start timestamp, chunk_end timestamp, "
    "n_points long, bytes long, "
    "crc32 long, v_min double, v_max double, v_sum double, blob binary"
)


def gorilla_chunks(tier_df: DataFrame, value_col: str,
                   max_points_per_chunk: int = 65536,
                   chunk_seconds: int | None = None,
                   n_keys: int | None = None) -> DataFrame:
    """tier_df(source, bucket, <value_col>) -> chunk table.

    Two chunking disciplines:

    * ``chunk_seconds=None`` (default): row-count chunks of up to
      ``max_points_per_chunk`` points from the sorted series — densest
      packing, but a backfill SHIFTS every later chunk boundary, so the
      chunk set must be regenerated (and partitions replaced) wholesale.
    * ``chunk_seconds=N``: TIME-ANCHORED chunks — one chunk per
      ``(source, floor(epoch/N))`` window (TimescaleDB-style hypertable
      chunking). Boundaries are stable under backfill, so an incremental
      run can re-encode ONLY the windows its merge touched and keyed-upsert
      them; ``chunk_start`` is pinned to the window start's encoded first
      point. Points per chunk are bounded by N / tier-bucket-seconds.
    """

    def fn(key, pdf):
        source = key[0]
        pdf = pdf.sort_values("bucket")
        ts = (pdf["bucket"].astype("int64") // 10**9).to_numpy()
        vals = pdf[value_col].astype("float64").to_numpy()
        rows = []
        if chunk_seconds is not None:
            bounds = np.flatnonzero(np.diff(ts // chunk_seconds)) + 1
            pieces = np.split(np.arange(len(ts)), bounds)
        else:
            pieces = [np.arange(s, min(s + max_points_per_chunk, len(ts)))
                      for s in range(0, len(ts), max_points_per_chunk)]
        for idx in pieces:
            if len(idx) == 0:
                continue
            t = ts[idx[0]:idx[-1] + 1]
            v = vals[idx[0]:idx[-1] + 1]
            blob = encode(t, v)
            st = chunk_stats(v, blob)
            # time-anchored chunks key on the WINDOW start (stable under
            # backfill — a keyed upsert replaces the window's chunk);
            # row-count chunks key on the first encoded point
            start_s = (int(t[0]) // chunk_seconds * chunk_seconds
                       if chunk_seconds is not None else int(t[0]))
            rows.append({
                "source": source,
                "chunk_start": pd.Timestamp(start_s, unit="s"),
                # chunk_end (max encoded ts) makes retention chunk-granular:
                # a chunk is droppable iff every point in it aged out
                "chunk_end": pd.Timestamp(t[-1], unit="s"),
                "n_points": st["n_points"],
                "bytes": st["bytes"],
                "crc32": st["crc32"],
                "v_min": st["v_min"],
                "v_max": st["v_max"],
                "v_sum": st["v_sum"],
                "blob": blob,
            })
        return pd.DataFrame(rows)

    # pin grouped-map parallelism (see gapfill.py _grouped_map_partitions:
    # AQE would coalesce the small tier table into ~1 task, and a partition
    # count near the core count straggles on key-hash collisions)
    from pyspark.sql import functions as F

    from .gapfill import _grouped_map_partitions

    tier_df = tier_df.repartition(_grouped_map_partitions(tier_df, n_keys),
                                  F.col("source"))
    return tier_df.groupBy("source").applyInPandas(fn, CHUNK_SCHEMA)


def decode_chunks_df(chunks: DataFrame) -> DataFrame:
    """Distributed read path: chunk rows -> (source, ts, value) points via
    Arrow-batched mapInPandas (each chunk decodes independently, so this
    scales with the chunk table's partitioning; no shuffle)."""
    from .gorilla import decode

    def fn(batches):
        for pdf in batches:
            out = []
            for src, blob in zip(pdf["source"], pdf["blob"]):
                ts, vals = decode(bytes(blob))
                out.append(pd.DataFrame({"source": src, "ts": ts, "value": vals}))
            if out:
                yield pd.concat(out, ignore_index=True)

    return chunks.select("source", "blob").mapInPandas(
        fn, "source string, ts long, value double")


def decode_chunks(chunks_pdf: pd.DataFrame) -> pd.DataFrame:
    """Verification read path: chunk rows -> (source, ts, value) points."""
    from .gorilla import decode

    out = []
    for _, r in chunks_pdf.iterrows():
        ts, vals = decode(bytes(r["blob"]))
        out.append(pd.DataFrame({"source": r["source"], "ts": ts, "value": vals}))
    return (pd.concat(out, ignore_index=True) if out
            else pd.DataFrame(columns=["source", "ts", "value"]))
