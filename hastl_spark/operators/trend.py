"""Per-key trend magnitude + seasonal amplitude over an STL decomposition —
the engine twin of the reference's summary entries (stl.fut:481-500:
``trend_magnitude`` = OLS slope of the trend component, ``seasonal_amplitude``
= max-min of the seasonal component).

One Arrow grouped-map call per series key, behind an explicit exchange of
``gapfill._grouped_map_partitions`` partitions: without it, AQE coalesces
the tiny decomposition frame into ~1 task and serializes keys.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..kernel import seasonal_amplitude, trend_magnitude
from .gapfill import _grouped_map_partitions


def trend_strength(decomp: DataFrame, key_col: str = "source",
                   order_col: str = "bucket") -> DataFrame:
    """decomp(key, order, trend, seasonal, ...) ->
    (key, trend_magnitude, seasonal_amplitude), one row per key."""
    def fn(key, pdf):
        pdf = pdf.sort_values(order_col)
        t = pdf["trend"].to_numpy(dtype=np.float32)[None, :]
        s = pdf["seasonal"].to_numpy(dtype=np.float32)[None, :]
        return pd.DataFrame({
            key_col: [key[0]],
            "trend_magnitude": [float(trend_magnitude(t)[0])],
            "seasonal_amplitude": [float(seasonal_amplitude(s)[0])],
        })

    decomp = decomp.select(key_col, order_col, "trend", "seasonal")
    decomp = decomp.repartition(_grouped_map_partitions(decomp),
                                F.col(key_col))
    return decomp.groupBy(key_col).applyInPandas(
        fn, f"{key_col} string, trend_magnitude double, "
            "seasonal_amplitude double")
