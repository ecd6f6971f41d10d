"""Visual downsampling of tier series: LTOB (relational) and LTTB (exact).

Largest-Triangle downsampling (Steinarsson 2013) is the standard
timeseries-engine decimation op (Timescale's ``lttb()``, Grafana).  Two
variants:

- ``ltob``: Largest-Triangle-One-Bucket — each point's effective area is
  computed against its *immediate neighbors* (lag/lead), then the max-area
  point per output bucket wins.  Entirely window functions + one ranked
  filter: codegen'd, one shuffle, SQL-portable (the DuckDB oracle runs the
  identical query).  Endpoints are always kept (infinite area).
- ``lttb``: the full sequential algorithm (triangle against the previously
  *selected* point and the next bucket's centroid) — inherently a per-key
  scan, so it runs as an Arrow-batched grouped map with a vectorized inner
  loop over buckets; pinned by a test against a naive pure-Python
  implementation.  Non-SQL-expressible by nature; ``ltob`` is its
  SQL-portable twin (same convention as minhash_pairs/minhash_portable).

Both partition by key only (each key's series is one group — tier series
are small relative to partitions); ``lttb``'s exchange is sized by the
grouped-map rule the STL stage uses (``gapfill._grouped_map_partitions``).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from hastl_spark.operators.gapfill import _grouped_map_partitions


def ltob(tier: DataFrame, n_out: int, *, key_col: str = "source",
         order_col: str = "bucket", value_col: str = "cnt") -> DataFrame:
    """Keep <= n_out points per key: per-bucket max effective-triangle-area.

    x = epoch seconds (exact integers in double), y = value_col — with an
    integer value column the area arithmetic is exact, so Spark and the
    DuckDB oracle agree bit-for-bit.
    """
    if n_out < 2:
        raise ValueError("n_out must be >= 2")
    w = Window.partitionBy(key_col).orderBy(order_col)
    x = F.col(order_col).cast("timestamp").cast("double")
    y = F.col(value_col).cast("double")
    idx = F.row_number().over(w) - 1
    n = F.count(F.lit(1)).over(Window.partitionBy(key_col))
    x0, y0 = F.lag(x).over(w), F.lag(y).over(w)
    x2, y2 = F.lead(x).over(w), F.lead(y).over(w)
    area = F.abs((x0 - x2) * (y - y2) - (x - x2) * (y0 - y2))
    scored = tier.withColumn("__i", idx).withColumn("__n", n).withColumn(
        "__slot", F.floor(F.col("__i") * n_out / F.col("__n"))
    ).withColumn(
        "__area",
        F.when((F.col("__i") == 0) | (F.col("__i") == F.col("__n") - 1),
               F.lit(float("inf"))).otherwise(area),
    )
    rk = F.row_number().over(
        Window.partitionBy(key_col, "__slot").orderBy(F.desc("__area"), order_col)
    )
    return (
        scored.withColumn("__rk", rk)
        .filter(F.col("__rk") == 1)
        .drop("__i", "__n", "__slot", "__area", "__rk")
    )


def _lttb_series(x: np.ndarray, y: np.ndarray, n_out: int) -> np.ndarray:
    """Indices selected by exact LTTB; vectorized per-bucket argmax."""
    n = len(x)
    if n_out >= n:
        return np.arange(n)
    # Bucket boundaries over the interior points 1..n-2 (endpoints pinned);
    # strictly increasing because n > n_out here.
    edges = np.floor(np.arange(n_out - 1) * (n - 2) / (n_out - 2)).astype(np.int64) + 1
    sel = np.empty(n_out, dtype=np.int64)
    sel[0], sel[-1] = 0, n - 1
    a = 0
    for i in range(n_out - 2):
        lo, hi = edges[i], edges[i + 1]
        # Next bucket's centroid; for the last interior bucket the "next
        # bucket" is the pinned final point.
        nlo = edges[i + 1]
        nhi = edges[i + 2] if i + 2 <= n_out - 2 else n
        cx, cy = x[nlo:nhi].mean(), y[nlo:nhi].mean()
        ax, ay = x[a], y[a]
        bx, by = x[lo:hi], y[lo:hi]
        # |(A-C) x (B-C)| — twice the triangle area; argmax is what matters.
        areas = np.abs((ax - cx) * (by - cy) - (bx - cx) * (ay - cy))
        a = lo + int(np.argmax(areas))
        sel[i + 1] = a
    return sel


def lttb(tier: DataFrame, n_out: int, *, key_col: str = "source",
         order_col: str = "bucket", value_col: str = "cnt") -> DataFrame:
    """Exact sequential LTTB per key as an Arrow grouped map."""
    if n_out < 3:
        raise ValueError("n_out must be >= 3")
    cols = [key_col, order_col, value_col]
    schema = tier.select(*cols).schema

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_col, kind="mergesort").reset_index(drop=True)
        xs = pdf[order_col].astype("int64").to_numpy().astype(np.float64)
        ys = pdf[value_col].to_numpy().astype(np.float64)
        return pdf.iloc[_lttb_series(xs, ys, n_out)][cols]

    src = tier.select(*cols)
    src = src.repartition(_grouped_map_partitions(src), key_col)
    return src.groupBy(key_col).applyInPandas(fn, schema=schema)
