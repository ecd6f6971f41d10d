"""Grid-chunked STL gap-fill vs the unchunked decomposition.

On a GAP-FREE grid the chunk+halo interiors must equal the unchunked
output exactly (all loess windows are local). On gappy grids exactness is
impossible by reference semantics — stl.fut applies NaN-compacted loess
windows to the dense ma3 series (stl.fut:145-148 vs 236-243), shifting
every low-pass window by the global NaN-prefix count — so the gappy test
pins a bounded approximation plus exact passthrough of observed values.
"""

import re
import warnings

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from gen import gen_harmonic
from hastl_spark.operators.gapfill import stl_gapfill

N, N_P = 2400, 24


def _series_df(spark, nan_frac):
    y = gen_harmonic(out_len=N, n_p=N_P, nan_frac=nan_frac, trend_coeff=0.001,
                     noise_level=0.05, seed=77).astype(np.float64)
    buckets = pd.date_range("2026-01-01", periods=N, freq="3600s")
    pdf = pd.DataFrame({"source": "s1", "bucket": buckets,
                        "cnt": 1, "sum_n_tok": y})
    pdf = pdf[~np.isnan(y)]  # NaNs are MISSING rows (grid gaps)
    return spark.createDataFrame(pdf)


def _run(df, **kw):
    out = stl_gapfill(df, value_col="sum_n_tok", bucket_seconds=3600,
                      n_p=N_P, q_s=13, d_s=0, **kw).toPandas()
    return out.sort_values("bucket").reset_index(drop=True)


def test_chunked_equals_unchunked_on_dense_grid(spark):
    df = _series_df(spark, nan_frac=0.0)
    base = _run(df)
    chunked = _run(df, chunk_buckets=500)
    assert len(chunked) == len(base) == N
    assert (chunked["bucket"].values == base["bucket"].values).all()
    np.testing.assert_array_equal(chunked["y"].values, base["y"].values)
    for col in ("seasonal", "trend", "remainder", "gapfilled"):
        # the compounded-radius halo covers the full influence of the
        # n_inner passes incl. one-sided boundary windows; only f32
        # accumulation noise (prefix-sum start offsets) remains
        np.testing.assert_allclose(chunked[col].values, base[col].values,
                                   atol=1e-6, rtol=0, err_msg=col)


def test_chunked_approximates_unchunked_on_gappy_grid(spark):
    df = _series_df(spark, nan_frac=0.08)
    base = _run(df)
    chunked = _run(df, chunk_buckets=500)
    # interiors partition the grid exactly: same buckets, no dup/missing
    assert len(chunked) == len(base) == N
    assert (chunked["bucket"].values == base["bucket"].values).all()
    # observed values pass through bit-exactly
    obs = ~np.isnan(base["y"].values)
    np.testing.assert_array_equal(chunked["y"].values[obs],
                                  base["y"].values[obs])
    np.testing.assert_array_equal(chunked["gapfilled"].values[obs],
                                  base["gapfilled"].values[obs])
    # decomposition: bounded by the reference's NaN-prefix window shift
    # (~5% of the amplitude-2 signal on this fixture; see module docstring)
    for col in ("seasonal", "trend", "gapfilled"):
        a, b = chunked[col].values, base[col].values
        assert (np.isnan(a) == np.isnan(b)).all(), col
        both = ~(np.isnan(a) | np.isnan(b))
        np.testing.assert_allclose(a[both], b[both], atol=0.15, rtol=0,
                                   err_msg=col)
        # and the bulk is much tighter than the worst case
        assert np.percentile(np.abs(a[both] - b[both]), 95) < 0.02, col
    # the headline number: at GAP positions (where gapfilled is imputed,
    # not passthrough) the chunked-vs-global divergence at the default
    # halo is bounded — max |delta gapfilled| < 0.15 on the amplitude-2
    # fixture, i.e. < 7.5% of signal amplitude
    gaps = ~obs
    dg = np.abs(chunked["gapfilled"].values[gaps]
                - base["gapfilled"].values[gaps])
    assert np.nanmax(dg) < 0.15 and np.nanmean(dg) < 0.01


def test_chunked_task_bound_respected(spark):
    # every (key, chunk) group holds at most chunk + 2*halo rows
    df = _series_df(spark, nan_frac=0.08)
    C, H = 500, 400
    out = stl_gapfill(df, value_col="sum_n_tok", bucket_seconds=3600,
                      n_p=N_P, q_s=13, d_s=0,
                      chunk_buckets=C, halo_buckets=H)
    assert out.count() == N
    pos = ((F.unix_timestamp("bucket")
            - F.unix_timestamp(F.lit("2026-01-01").cast("timestamp"))) / 3600
           ).cast("long")
    k0 = (pos / C).cast("long")
    members = F.array(
        k0,
        F.when(pos < k0 * C + H, k0 - 1),
        F.when(pos >= (k0 + 1) * C - H, k0 + 1),
    )
    g = (df.select(F.explode(F.filter(members, lambda m: m.isNotNull()))
                   .alias("k"))
         .groupBy("k").count().agg(F.max("count")).collect()[0][0])
    assert g <= C + 2 * H


def test_chunk_buckets_lower_bound(spark):
    df = _series_df(spark, nan_frac=0.0)
    with pytest.raises(ValueError):
        stl_gapfill(df, value_col="sum_n_tok", bucket_seconds=3600,
                    n_p=N_P, q_s=13, chunk_buckets=10).count()


def test_chunked_exact_when_halo_exceeds_chunk(spark):
    """halo > chunk_buckets (the round-2 bug class: the old ±1-neighbor
    explode silently truncated halos wider than one chunk): with C=60 and
    the compounded default halo (~858 buckets, ~15 chunks wide) the
    generalized ±ceil(H/C) membership must still reproduce the unchunked
    interior exactly on a dense grid."""
    df = _series_df(spark, nan_frac=0.0)
    base = _run(df)
    chunked = _run(df, chunk_buckets=60)  # 60 >= 2*n_p=48; halo ~858 >> 60
    assert len(chunked) == len(base) == N
    assert (chunked["bucket"].values == base["bucket"].values).all()
    for col in ("seasonal", "trend", "remainder", "gapfilled"):
        np.testing.assert_allclose(chunked[col].values, base[col].values,
                                   atol=1e-6, rtol=0, err_msg=col)


def test_only_chunks_matches_full_chunked(spark):
    """Incremental selection: running only a named chunk id yields rows
    bit-identical to the same chunk's interior in the full chunked run
    (same epoch-anchored task, same inputs)."""
    df = _series_df(spark, nan_frac=0.05)
    full = _run(df, chunk_buckets=500)
    pos0 = int(pd.Timestamp("2026-01-01").timestamp()) // 3600
    k = (pos0 + 1200) // 500  # a middle chunk
    sub = _run(df, chunk_buckets=500, only_chunks=[k])
    pos = full["bucket"].map(
        lambda b: int(pd.Timestamp(b).timestamp()) // 3600 // 500)
    exp = full[pos == k].reset_index(drop=True)
    assert len(sub) == len(exp) > 0
    for col in ("y", "seasonal", "trend", "remainder", "gapfilled"):
        np.testing.assert_array_equal(sub[col].values, exp[col].values,
                                      err_msg=col)


def _hourly_df(spark, n_sources, n_hours):
    # 2026-01-01 is epoch hour 490896, a multiple of 48: chunks of 48
    # hourly buckets line up with the frame, n_hours / 48 chunks per source
    buckets = pd.date_range("2026-01-01", periods=n_hours, freq="3600s")
    y = gen_harmonic(out_len=n_hours, n_p=N_P, nan_frac=0.0,
                     trend_coeff=0.001, noise_level=0.05, seed=5)
    pdf = pd.concat([pd.DataFrame({"source": f"s{i}", "bucket": buckets,
                                   "cnt": 1, "sum_n_tok": y.astype("float64")})
                     for i in range(n_sources)])
    return spark.createDataFrame(pdf)


def _planned_partitions(df) -> list[int]:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return [int(n) for n in
            re.findall(r"hashpartitioning\([^)]*_chunk[^)]*, (\d+)\)", plan)]


def test_chunked_partitions_sized_by_groups(spark):
    """The chunked grouped map plans one partition per (source, chunk)
    group that runs, floored at 2x cores — not a fixed 256."""
    dp2 = 2 * spark.sparkContext.defaultParallelism
    k0 = 490896 // 48

    def parts(df, **kw):
        return _planned_partitions(stl_gapfill(
            df, value_col="sum_n_tok", bucket_seconds=3600, n_p=N_P,
            q_s=13, d_s=0, chunk_buckets=48, **kw))

    small = _hourly_df(spark, 2, 3 * 48)          # 2 sources x 3 chunks
    assert parts(small) == [max(dp2, 6)]
    assert parts(small, only_chunks=[k0 + 1]) == [max(dp2, 2)]
    wide = _hourly_df(spark, 2, 12 * 48)          # 2 sources x 12 chunks
    assert parts(wide) == [max(dp2, 24)]
    # chunk ids outside a source's range run no group
    assert parts(wide, only_chunks=[k0 - 5, k0, k0 + 99]) == [max(dp2, 2)]


def test_gapfill_raises_no_user_warning(spark):
    # a partly annotated grouped-map function makes applyInPandas warn that
    # it cannot infer the eval type; both gap-fill paths must stay silent
    df = _hourly_df(spark, 2, 3 * 48)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        for kw in ({}, {"chunk_buckets": 48}):
            stl_gapfill(df, value_col="sum_n_tok", bucket_seconds=3600,
                        n_p=N_P, q_s=13, d_s=0, **kw).count()
    assert [str(w.message) for w in caught
            if issubclass(w.category, UserWarning)] == []
