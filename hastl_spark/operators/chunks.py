"""Gorilla chunk materialization: tier series -> compressed chunk rows.

One ``applyInPandas`` per (source): sort by bucket inside the group (cheaper
than a global sort — ordering is only needed within a chunk), encode with the
vectorized codec, emit one row per time-anchored window with stats. The
window span bounds both UDF memory and point-lookup read amplification, and
because windows are anchored at the epoch, a chunk's key never moves when
earlier data arrives.
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
                   chunk_seconds: int = 7 * 86400) -> DataFrame:
    """tier_df(source, bucket, <value_col>) -> chunk table.

    TIME-ANCHORED chunks: one chunk per ``(source, floor(epoch /
    chunk_seconds))`` window (TimescaleDB-style hypertable chunking).
    Boundaries are stable under backfill, so an incremental run can
    re-encode ONLY the windows its merge touched and keyed-upsert them;
    ``chunk_start`` is the window start, ``chunk_end`` the last encoded
    point. Points per chunk are bounded by chunk_seconds / tier-bucket
    seconds.
    """
    if chunk_seconds <= 0:
        raise ValueError(f"chunk_seconds must be positive, got {chunk_seconds}")

    def fn(key, pdf):
        source = key[0]
        pdf = pdf.sort_values("bucket")
        ts = (pdf["bucket"].astype("int64") // 10**9).to_numpy()
        vals = pdf[value_col].astype("float64").to_numpy()
        rows = []
        bounds = np.flatnonzero(np.diff(ts // chunk_seconds)) + 1
        for t, v in zip(np.split(ts, bounds), np.split(vals, bounds)):
            blob = encode(t, v)
            st = chunk_stats(v, blob)
            start_s = int(t[0]) // chunk_seconds * chunk_seconds
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

    # pin grouped-map parallelism (see gapfill._grouped_map_partitions):
    # AQE would coalesce the small tier table into ~1 task otherwise
    from pyspark.sql import functions as F

    from .gapfill import _grouped_map_partitions

    tier_df = tier_df.repartition(_grouped_map_partitions(tier_df),
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
