"""Standalone batched LOESS smoothing as a Spark operator — the engine twin
of the reference's ``LOESS.fit`` entry point (hastl/loess.py:53-90,
loess.fut:768-811): uniform weights, NaN-aware neighbor windows, optional
jump subsampling + Hermite reconstruction.

One ``applyInPandas`` group per series key; the kernel inside is the same
float64 NumPy used by the oracle, so Spark output is bit-identical to
``hastl_spark.kernel.loess_fit``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..kernel import loess_fit


def loess_smooth(series: DataFrame, q: int, degree: int = 1,
                 jump: int | None = None, key_col: str = "source",
                 order_col: str = "bucket", value_col: str = "y") -> DataFrame:
    """series(key, order, value) -> (key, order, value, smoothed).

    NaN/null values are gaps: the smoothed curve is defined at every row
    (the reference's missing-value LOESS semantics)."""
    schema = (f"{key_col} string, {order_col} timestamp, "
              f"{value_col} double, smoothed double")

    def fn(key, pdf):
        pdf = pdf.sort_values(order_col)
        y = pdf[value_col].astype("float64").to_numpy()
        out = loess_fit(y, q=q, degree=degree, jump=jump)
        return pd.DataFrame({
            key_col: key[0],
            order_col: pdf[order_col].values,
            value_col: y,
            "smoothed": np.asarray(out, dtype=np.float64),
        })

    # explicit grouped-map exchange (see gapfill._grouped_map_partitions):
    # AQE would coalesce the tiny series frame into ~1 task otherwise
    from pyspark.sql import functions as F

    from .gapfill import _grouped_map_partitions

    series = series.repartition(_grouped_map_partitions(series),
                                F.col(key_col))
    return series.groupBy(key_col).applyInPandas(fn, schema)
