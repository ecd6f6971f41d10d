"""STL gap-fill over per-(source) bucket series — the engine's one hot-path
pandas UDF (``applyInPandas``, Arrow-batched, vectorized NumPy inside; no
per-row Python, per BASELINE.json input_hint).

Each group = one source's rolled-up series. Grid densification happens
*inside* the UDF (reindex onto the complete bucket grid, NaN at gaps) —
doing it relationally would cost an extra shuffle + join for data the UDF
already holds (SURVEY.md §3.4).

Scale note: group size is bounded by the TIME RANGE (minutes in the
retention window), not by raw data volume — a year of minutes is ~525k
points, comfortably one task even at 10^12 input sequences. The skew-heavy
dimension (docs per source) was already collapsed by the salted rollup.
For windows beyond that (decades of minutes, or second-granularity tiers),
pass ``chunk_buckets``: the grid is split into fixed-size chunks with a
halo of surrounding buckets, one STL group per (source, chunk), interiors
stitched — bounding every group regardless of series length. With the
default ``n_outer=1`` the kernel applies no cross-chunk statistic (the
robustness-weight update is skipped on the last outer pass), and every
loess window is local, so a halo covering the widest window
(max(q_s*n_p, q_t, q_l)) reproduces the unchunked interior values EXACTLY
on gap-free grids (pinned by test). On gappy grids the match is only
approximate, for a reason inherent to the reference: stl.fut precomputes
the low-pass loess windows from the NaN-compacted index array
(stl.fut:145-148) but applies them to the DENSE ma3 series
(stl.fut:236-243), so every fit window is shifted left by the number of
NaNs occurring anywhere before it — a global dependence on the NaN prefix
count that no windowed computation can reproduce. The chunked path is
therefore "reference STL applied to each chunk window"; the unchunked
default remains the globally reference-exact path.

One window body: both paths hand each group to ``_decompose`` and differ
only in the grid (the key's full range, or a chunk plus its halo) and the
slice of it returned. Densification, the duplicate-bucket rule (the first
row per bucket wins) and the kernel call are therefore one code path.

Parallelism: the rolled-up input is small in bytes, so both paths pin the
grouped map's partition count (AQE would otherwise coalesce it into one or
two tasks). The unchunked path plans ``_grouped_map_partitions`` (2 x
cores), like every other grouped-map operator. The chunked path collects
its per-key bounds first (one job, one row per key), counts the (key,
chunk) groups that will run, and plans the larger of that rule and the
group count — an incremental refresh of a few chunks runs a few Python
tasks, a long backfill one task per group.
"""

from __future__ import annotations

import inspect

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..kernel import canonicalize_stl_params
from ..kernel.stl import stl_filt

GAPFILL_SCHEMA = (
    "source string, bucket timestamp, y double, seasonal double, "
    "trend double, remainder double, gapfilled double, cnt long"
)


def default_halo_buckets(n_p: int, **params) -> int:
    """Halo width (in buckets) covering the full influence radius of the
    given STL parameterization — what a chunked or incremental
    recomputation must include around any touched range.

    One inner pass moves information by up to a ONE-SIDED seasonal window
    (q_s cycle points = q_s*n_p buckets at a series boundary, where the
    loess window is entirely to one side) plus the low-pass chain
    (2x ma(n_p) + ma(3) + loess q_l) plus the trend loess (q_t); and the
    n_inner (x n_outer) passes COMPOUND the radius because each pass's
    seasonal input depends on the previous pass's trend. The round-2
    single-window halo (max(q_s*n_p, q_t, q_l)) left ~3e-5 errors within
    ~q_s*n_p/2 of series edges — measured bit-exact only once the halo
    covers the compounded radius (tests/test_gapfill_chunked.py)."""
    p0 = canonicalize_stl_params(10 ** 9, n_p, **params)
    passes = max(1, p0.n_inner) * max(1, p0.n_outer)
    per_pass = p0.q_s * n_p + p0.q_t + p0.q_l + 2 * n_p + 3
    return passes * per_pass


def touched_chunk_ids(pos_ranges, chunk_buckets: int, halo_buckets: int) -> list[int]:
    """Chunk ids whose halo-extended window [k*C - H, (k+1)*C + H)
    intersects any of the given [lo, hi] position ranges — the set an
    incremental run must recompute when those positions changed."""
    C, H = int(chunk_buckets), int(halo_buckets)
    out: set[int] = set()
    for lo, hi in pos_ranges:
        k_lo = (int(lo) - H) // C
        k_hi = (int(hi) + H) // C
        out.update(range(k_lo, k_hi + 1))
    return sorted(out)


def stl_gapfill(
    rollup: DataFrame,
    value_col: str = "sum_n_tok",
    bucket_seconds: int = 60,
    n_p: int = 52,
    q_s: int = 19,
    d_s: int = 0,
    jump_s: int = 1,
    jump_t: int = 1,
    jump_l: int = 1,
    n_inner: int = 2,
    n_outer: int = 1,
    key_col: str = "source",
    chunk_buckets: int | None = None,
    halo_buckets: int | None = None,
    only_chunks: list[int] | None = None,
    **extra_params,
) -> DataFrame:
    """rollup(source, bucket, cnt, value_col) -> densified + decomposed series.

    Output columns: y (raw value, NaN at grid gaps), seasonal/trend/remainder
    (reference STL semantics: remainder NaN at gaps, seasonal+trend defined
    everywhere — stl.fut:378-381), gapfilled = y where present else
    seasonal+trend.
    """
    freq = f"{bucket_seconds}s"
    params = dict(q_s=q_s, d_s=d_s, jump_s=jump_s, jump_t=jump_t,
                  jump_l=jump_l, n_inner=n_inner, n_outer=n_outer, **extra_params)

    if chunk_buckets is not None:
        return _stl_gapfill_chunked(rollup, value_col, bucket_seconds, n_p,
                                    params, key_col, chunk_buckets,
                                    halo_buckets, only_chunks)
    if only_chunks is not None:
        raise ValueError("only_chunks requires chunk_buckets (incremental "
                         "recomputation is defined on the chunked grid)")

    def fn(key, pdf):
        grid = pd.date_range(pdf["bucket"].min(), pdf["bucket"].max(),
                             freq=freq)
        return _decompose(pdf, grid, slice(None), value_col, n_p, params,
                          key_col, key[0])

    schema = GAPFILL_SCHEMA.replace("source string", f"{key_col} string")
    # Pin the grouped-map parallelism: the rolled-up input is small in bytes,
    # so AQE's partition coalescing would funnel every group into one or two
    # tasks and serialize the STL kernels. An explicit hash repartition by
    # the group key keeps tasks per key-bucket (the groupBy reuses this
    # exchange — no extra shuffle) and scales with the session's cores.
    import pyspark.sql.functions as F

    rollup = rollup.repartition(_grouped_map_partitions(rollup),
                                F.col(key_col))
    return rollup.groupBy(key_col).applyInPandas(fn, schema)


def gapfill_halo_buckets(**stl_kwargs) -> int:
    """The halo (in buckets) ``stl_gapfill(rollup, **stl_kwargs)`` puts
    around each chunk: ``halo_buckets`` when given (an explicit 0 too),
    else ``default_halo_buckets`` of the STL parameters, stl_gapfill's own
    defaults standing in for those the caller left out."""
    bound = inspect.signature(stl_gapfill).bind(None, **stl_kwargs)
    bound.apply_defaults()
    args = {**bound.arguments, **bound.arguments["extra_params"]}
    if args["halo_buckets"] is not None:
        return int(args["halo_buckets"])
    stl_names = set(inspect.signature(canonicalize_stl_params).parameters)
    return default_halo_buckets(
        args["n_p"], **{k: v for k, v in args.items()
                        if k in stl_names - {"n", "n_p"}})


def _decompose(pdf: pd.DataFrame, grid: pd.DatetimeIndex, interior: slice,
               value_col: str, n_p: int, params: dict, key_col: str,
               source) -> pd.DataFrame:
    """One STL window, shared by both gap-fill paths: densify a group's
    rows onto ``grid`` (NaN at gaps; the first row per bucket wins, so a
    duplicated bucket never reaches the reindex), decompose with one
    kernel call and return the ``interior`` rows. A window shorter than
    two periods passes through undecomposed."""
    idx = pd.DatetimeIndex(pdf["bucket"])
    first = ~idx.duplicated()
    y = (pd.Series(pdf[value_col].astype("float64").values, index=idx)[first]
         .reindex(grid).values)  # float64, NaN at gaps
    cnt = (pd.Series(pdf["cnt"].values, index=idx)[first]
           .reindex(grid).fillna(0).astype("int64").values)
    n = len(y)
    if n < 2 * n_p:
        S = T = R = np.full(n, np.nan)
        gapfilled = y
    else:
        p = canonicalize_stl_params(n, n_p, **params)
        S, T, R = stl_filt(y[None, :].astype(np.float32), p)
        S, T, R = (S[0].astype(np.float64), T[0].astype(np.float64),
                   R[0].astype(np.float64))
        gapfilled = np.where(np.isnan(y), S + T, y)
    return pd.DataFrame({
        key_col: source, "bucket": grid[interior], "y": y[interior],
        "seasonal": S[interior], "trend": T[interior],
        "remainder": R[interior], "gapfilled": gapfilled[interior],
        "cnt": cnt[interior],
    })


def _grouped_map_partitions(df: DataFrame) -> int:
    """Partition count for the explicit exchange in front of a grouped map:
    2 x the session's cores. The exchange itself is what matters — the
    grouped inputs are small in bytes, and without it AQE coalesces them
    into one or two tasks and serializes the Python calls.

    Measured on a 4-vCPU host (local[4]), this rule against a fixed floor
    of 256 partitions (4x the key count when a caller passed one): the
    ``full_build`` benchmark's median operation 20.8 -> 18.6 s (packing
    1.11M -> 1.85M tok/s), ``daily_refresh`` 12.8 -> 11.0 s, and at sf0.1
    gorilla_roundtrip_1h 3.05 -> 1.57 s, packs_summary 1.91 -> 0.84 s. Each
    empty task still pays a Python worker round trip; at these sizes that,
    not hash collisions between a few keys, sets the stage wall. The
    chunked gap-fill takes the larger of this and its (key, chunk) group
    count."""
    return 2 * df.sparkSession.sparkContext.defaultParallelism


def _stl_gapfill_chunked(rollup: DataFrame, value_col: str, bucket_seconds: int,
                         n_p: int, params: dict, key_col: str,
                         chunk_buckets: int, halo_buckets: int | None,
                         only_chunks: list[int] | None = None) -> DataFrame:
    """Grid-chunked STL gap-fill: split the bucket grid into
    ``chunk_buckets``-sized chunks, extend each by a halo wide enough to
    cover the widest loess window, run one STL call per (key, chunk), emit
    only chunk interiors (an exact partition of the global grid — no
    overlap, no stitch seams).

    Chunk ids are anchored at the EPOCH (``k = unix(bucket)//bucket_seconds
    // C``), not at each key's first observation: a backfill that extends a
    series earlier must not shift every chunk boundary (that would make
    incremental recomputation rewrite the whole history), and absolute ids
    let an incremental run name exactly the chunks a touched time range
    intersects.

    Rows are assigned to their own chunk plus the ±ceil(H/C) neighbors whose
    halo can reach them (a relational explode — no driver loop, correct for
    ANY halo/chunk ratio), so the grouped-map task size is bounded by
    chunk + 2*halo regardless of series length.

    Caveat: a chunk whose [start - halo, end + halo) range contains no
    observations at all never materializes, so gaps longer than
    chunk + 2*halo are not extrapolated across (the unchunked path fills
    them from the global fit). At that gap size there is no nearby anchor
    anyway; size chunks to the retention window's plausible gap scale.
    """
    from pyspark.sql import functions as F

    C = int(chunk_buckets)
    H = gapfill_halo_buckets(n_p=n_p, halo_buckets=halo_buckets, **params)
    if C < 2 * n_p:
        raise ValueError(f"chunk_buckets={C} must be >= 2*n_p={2 * n_p}")
    D = -(-H // C)  # neighbors per side a halo can span (ceil(H/C))

    def pos_of(c):
        return (F.unix_timestamp(c) / bucket_seconds).cast("long")

    # per-key grid bounds: one row per key, collected once. The driver sizes
    # the grouped map from them and the same rows feed the halo join, so
    # the aggregate is not recomputed inside the gap-fill plan.
    bounds = (rollup.groupBy(key_col)
              .agg(pos_of(F.min("bucket")).alias("_p0"),
                   pos_of(F.max("bucket")).alias("_p1"))
              .dropna())
    rows = bounds.collect()
    # (key, chunk) groups that will run: each key's chunk range, cut to
    # only_chunks when given (int(p / C) truncates as the cast below does)
    only = None if only_chunks is None else {int(c) for c in only_chunks}
    n_groups = 0
    for r in rows:
        c0, c1 = int(r["_p0"] / C), int(r["_p1"] / C)
        n_groups += (c1 - c0 + 1 if only is None
                     else sum(c0 <= c <= c1 for c in only))
    spark = rollup.sparkSession
    df = rollup.join(F.broadcast(spark.createDataFrame(rows, bounds.schema)),
                     key_col)
    pos = pos_of("bucket")
    p0c, p1c = F.col("_p0"), F.col("_p1")
    k0 = (pos / C).cast("long")
    members = F.filter(
        F.transform(F.sequence(F.lit(-D), F.lit(D)), lambda d: k0 + d),
        lambda m: (m >= (p0c / C).cast("long")) & (m <= (p1c / C).cast("long"))
        & (pos >= m * C - H) & (pos <= (m + 1) * C - 1 + H),
    )
    df = df.select(key_col, "bucket", "cnt", value_col, "_p0", "_p1",
                   F.explode(members).alias("_chunk"))
    if only_chunks is not None:
        # incremental mode: recompute ONLY the named (epoch-anchored) chunks.
        # Bounds above were computed on the FULL series — an incremental run
        # must see true per-key edges, or grid clipping at the filter
        # boundary would shift NaN prefixes (the stl.fut low-pass hazard
        # documented in the module docstring) and silently change values.
        df = df.filter(F.col("_chunk").isin(sorted(only)))

    def fn(key, pdf):
        k = int(key[1])
        kp0 = int(pdf["_p0"].iloc[0])
        kp1 = int(pdf["_p1"].iloc[0])
        lo = max(k * C - H, kp0)
        hi = min((k + 1) * C - 1 + H, kp1)
        grid = pd.to_datetime(
            np.arange(lo, hi + 1) * bucket_seconds, unit="s")
        interior = slice(max(k * C, kp0) - lo,
                         min((k + 1) * C - 1, kp1) - lo + 1)
        return _decompose(pdf, grid, interior, value_col, n_p, params,
                          key_col, key[0])

    schema = GAPFILL_SCHEMA.replace("source string", f"{key_col} string")
    # one partition per group, floored at the grouped-map rule: a refresh
    # that runs a dozen groups schedules a dozen Python tasks
    n_part = max(_grouped_map_partitions(df), n_groups)
    df = df.repartition(n_part, F.col(key_col), F.col("_chunk"))
    return df.groupBy(key_col, "_chunk").applyInPandas(fn, schema)
