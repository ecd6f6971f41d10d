"""One partition rule for every grouped-map stage: the operator puts an
explicit hash exchange (REPARTITION_BY_NUM, which AQE does not coalesce)
in front of its Python UDF, and that exchange is 2 x defaultParallelism
wide whatever the key count."""

import re

import pandas as pd
import pytest

from hastl_spark.operators.chunks import gorilla_chunks
from hastl_spark.operators.downsample import lttb
from hastl_spark.operators.gapfill import stl_gapfill
from hastl_spark.operators.loess import loess_smooth
from hastl_spark.operators.packing import pack_sequences
from hastl_spark.operators.trend import trend_strength


def _series(spark, n_sources=3, n_hours=96):
    buckets = pd.date_range("2026-01-01", periods=n_hours, freq="3600s")
    pdf = pd.concat([pd.DataFrame({
        "source": f"s{i}", "bucket": buckets, "cnt": 1,
        "sum_n_tok": 1.0, "y": 1.0, "trend": 1.0, "seasonal": 0.0})
        for i in range(n_sources)])
    return spark.createDataFrame(pdf)


def _docs(spark):
    return spark.createDataFrame([(i, f"s{i % 3}", 7 + i) for i in range(30)],
                                 "doc_id long, source string, n_chars long")


CALLERS = {
    "stl_gapfill": lambda s: stl_gapfill(
        _series(s), bucket_seconds=3600, n_p=24, q_s=13, d_s=0),
    "gorilla_chunks": lambda s: gorilla_chunks(_series(s), "sum_n_tok"),
    "trend_strength": lambda s: trend_strength(_series(s)),
    "loess_smooth": lambda s: loess_smooth(_series(s), q=5),
    "lttb": lambda s: lttb(_series(s), 10),
    "pack_sequences": lambda s: pack_sequences(_docs(s), 100),
}


@pytest.mark.parametrize("caller", sorted(CALLERS))
def test_grouped_map_exchange_is_twice_parallelism(spark, caller):
    plan = (CALLERS[caller](spark)._jdf.queryExecution()
            .executedPlan().toString())
    widths = re.findall(r"hashpartitioning\([^)]*, (\d+)\), REPARTITION_BY_NUM",
                        plan)
    assert widths, plan
    assert {int(w) for w in widths} == {2 * spark.sparkContext.defaultParallelism}
