"""Incremental gap-fill: an incremental run recomputes ONLY the chunks
whose halo window intersects the touched days, rewrites only those days'
gapfill partitions, and its table state is bit-identical to a full chunked
recompute (same epoch-anchored chunk tasks see the same inputs)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from hastl_spark.operators.gapfill import (default_halo_buckets,
                                           touched_chunk_ids)
from hastl_spark.plans.rollup_job import clip_touched_chunks, run_pipeline
from hastl_spark.sources.sequences import SEQS_PER_BUCKET, generate_sequences
from hastl_spark.sources.tables import PART_SEP, KeyedTable

N_DAYS = 4
BUCKETS = N_DAYS * 1440
STL_KW = {"chunk_buckets": 1440, "n_p": 52, "q_s": 7}


def _seqs(spark):
    return generate_sequences(spark, n_sources=2, n_buckets=BUCKETS,
                              base_rate=4.0, tok_lo=4, tok_hi=16,
                              with_tokens=True).cache()


def _bucket_of(doc_id_col):
    seq_no = F.split(doc_id_col, "-").getItem(1).cast("long")
    return (seq_no / SEQS_PER_BUCKET).cast("long")


def test_default_halo_without_explicit_qs():
    # the pipeline passes only {"chunk_buckets": N}; halo derivation must
    # fall back to stl_gapfill's q_s default instead of raising
    assert default_halo_buckets(52) == default_halo_buckets(52, q_s=19) > 0


def test_touched_chunk_ids():
    assert touched_chunk_ids([(100, 199)], 100, 50) == [0, 1, 2]
    assert touched_chunk_ids([(0, 9)], 100, 10) == [-1, 0]
    assert touched_chunk_ids([(250, 260), (950, 960)], 100, 0) == [2, 9]


def test_clip_touched_chunks():
    # C = one day of minutes, so chunk id = epoch day; 2026-01-01 is day 20454
    d0 = 20454
    wm = {"s1~2026-01-01": "2026-01-01 23:59:00",
          "s1~2026-01-02": "2026-01-02 23:59:00",
          "s2~2026-01-02": "2026-01-02 12:00:00"}
    kept, groups = clip_touched_chunks([d0 - 1, d0, d0 + 1, d0 + 2], wm, 1440)
    assert kept == [d0, d0 + 1]
    assert groups == 3  # s1: two days, s2: one


@pytest.mark.slow
def test_refresh_records_clipped_chunks_and_groups(spark, tmp_path):
    """A one-day refresh at the series end: the halo (q_s=7 -> 1250
    buckets) reaches one chunk either side, but the chunk after the last
    day holds no data, so 2 chunk ids x 2 sources = 4 groups run."""
    seqs = generate_sequences(spark, n_sources=2, n_buckets=3 * 1440,
                              base_rate=4.0, tok_lo=4, tok_hi=16,
                              with_tokens=True).cache()
    out = str(tmp_path / "inc")
    kw = dict(do_gorilla=False, check_invariant=False, stl_kwargs=STL_KW,
              incremental_gapfill=True)
    run_pipeline(spark, seqs.filter(_bucket_of(F.col("doc_id")) < 2 * 1440),
                 out, **kw)
    m2 = run_pipeline(
        spark, seqs.filter(_bucket_of(F.col("doc_id")) >= 2 * 1440), out, **kw)
    assert m2["gapfill_chunks_recomputed"] == 2
    assert m2["gapfill_groups_recomputed"] == 4
    seqs.unpersist()


@pytest.mark.slow
def test_incremental_rewrites_only_touched_days(spark, tmp_path):
    seqs = _seqs(spark)
    first = seqs.filter(_bucket_of(F.col("doc_id")) < 3 * 1440)
    last_day = seqs.filter(_bucket_of(F.col("doc_id")) >= 3 * 1440)

    inc_dir = str(tmp_path / "inc")
    m1 = run_pipeline(spark, first, inc_dir, do_gorilla=False,
                      check_invariant=False, stl_kwargs=STL_KW,
                      incremental_gapfill=True)
    assert "gapfill_chunks_recomputed" not in m1  # first run = full compute
    gap_snap1 = KeyedTable(f"{inc_dir}/gapfill_1m", ["source", "bucket"])._load()
    parts_before = dict(gap_snap1["partitions"])

    m2 = run_pipeline(spark, last_day, inc_dir, do_gorilla=False,
                      check_invariant=False, stl_kwargs=STL_KW,
                      incremental_gapfill=True)
    # halo (q_s=7 -> 7*52=364 < 1440) reaches one neighbor chunk: the run
    # must recompute the touched day's chunk + its reachable neighbor only
    assert m2["gapfill_chunks_recomputed"] <= 3
    touched_days = {p.split(PART_SEP)[1]
                    for p in m2["gapfill_1m"]["partitions"]}
    assert touched_days <= {"2026-01-03", "2026-01-04"}
    # untouched day partitions kept their original data files
    gap_snap2 = KeyedTable(f"{inc_dir}/gapfill_1m", ["source", "bucket"])._load()
    for p, rel in parts_before.items():
        if p.split(PART_SEP)[1] in ("2026-01-01", "2026-01-02"):
            assert gap_snap2["partitions"][p] == rel, p

    # table state == full chunked recompute, bit-exact
    full_dir = str(tmp_path / "full")
    run_pipeline(spark, seqs, full_dir, do_gorilla=False,
                 check_invariant=False, stl_kwargs=STL_KW)
    cols = ["source", "bucket", "y", "seasonal", "trend", "gapfilled", "cnt"]
    inc_pdf = (KeyedTable(f"{inc_dir}/gapfill_1m", ["source", "bucket"])
               .read(spark).select(cols).toPandas()
               .sort_values(["source", "bucket"]).reset_index(drop=True))
    full_pdf = (KeyedTable(f"{full_dir}/gapfill_1m", ["source", "bucket"])
                .read(spark).select(cols).toPandas()
                .sort_values(["source", "bucket"]).reset_index(drop=True))
    assert len(inc_pdf) == len(full_pdf)
    for c in cols[2:]:
        np.testing.assert_array_equal(inc_pdf[c].values, full_pdf[c].values,
                                      err_msg=c)


def test_gorilla_chunks_time_anchored(spark):
    """chunk_seconds mode: one chunk per (source, window); chunk_start is
    the WINDOW start (stable under backfill), chunk_end the last point."""
    import pandas as pd

    from hastl_spark.operators.chunks import decode_chunks_df, gorilla_chunks

    buckets = pd.date_range("2026-01-01", periods=3 * 1440, freq="60s")
    pdf = pd.DataFrame({"source": "s1", "bucket": buckets,
                        "sum_n_tok": np.arange(3 * 1440, dtype="float64")})
    df = spark.createDataFrame(pdf)
    ch = gorilla_chunks(df, "sum_n_tok", chunk_seconds=86400).toPandas() \
        .sort_values("chunk_start").reset_index(drop=True)
    assert len(ch) == 3
    assert [str(c) for c in ch["chunk_start"]] == [
        "2026-01-01 00:00:00", "2026-01-02 00:00:00", "2026-01-03 00:00:00"]
    assert ch["n_points"].tolist() == [1440, 1440, 1440]
    # decode reproduces every point
    pts = decode_chunks_df(gorilla_chunks(df, "sum_n_tok",
                                          chunk_seconds=86400)).toPandas()
    assert len(pts) == 3 * 1440 and pts["value"].sum() == pdf.sum_n_tok.sum()


@pytest.mark.slow
def test_chunking_discipline_switch_drops_stale_chunks(spark, tmp_path):
    """Switching an existing chunks table from row-count to time-anchored
    chunking (or back) must NOT leave stale overlapping chunks behind: the
    discipline is a table property, and a switch forces a full re-encode
    published as an overwrite snapshot (round-3 ADVICE)."""
    CS = {"1m": 86400, "1h": 365 * 86400, "1d": 3650 * 86400,
          "gapfill_1m": 86400}
    seqs = _seqs(spark)
    out = str(tmp_path / "switch")
    run_pipeline(spark, seqs, out, check_invariant=False,
                 stl_kwargs={k: v for k, v in STL_KW.items()})
    ch_t = KeyedTable(f"{out}/chunks", ["source", "tier", "chunk_start"])
    assert ch_t.prop("chunking") == "rowcount"
    n_rowcount = ch_t.read(spark).count()

    m2 = run_pipeline(spark, seqs, out, check_invariant=False,
                      stl_kwargs=dict(STL_KW), incremental_gapfill=True,
                      chunk_seconds=CS)
    assert m2["chunks_discipline_migration"] == {
        "from": "rowcount", "to": "anchored",
        "from_codec": "GOR2", "to_codec": "GOR2"}
    assert ch_t.prop("chunking") == "anchored"
    after = ch_t.read(spark).toPandas()
    # the anchored 1m tier has one chunk per (source, day-window): any
    # surviving row-count chunk would add overlapping rows beyond that
    assert len(after[after.tier == "1m"]) == 2 * N_DAYS
    # total decoded points must equal the tier sizes exactly (no dupes):
    # compare per-tier point sums against a fresh anchored-only run
    fresh = str(tmp_path / "fresh")
    run_pipeline(spark, seqs, fresh, check_invariant=False,
                 stl_kwargs=dict(STL_KW), chunk_seconds=CS)
    f_t = KeyedTable(f"{fresh}/chunks", ["source", "tier", "chunk_start"])
    a = after.groupby("tier").n_points.sum().sort_index()
    b = (f_t.read(spark).toPandas().groupby("tier").n_points.sum()
         .sort_index())
    assert (a == b).all()
    assert n_rowcount > 0  # the first run really had row-count chunks


@pytest.mark.slow
def test_incremental_anchored_chunks_rewrite_only_touched_windows(spark, tmp_path):
    """Time-anchored chunk tables + incremental run: only windows
    intersecting the touched days re-encode; table state equals a full
    anchored recompute."""
    from hastl_spark.plans.rollup_job import run_pipeline

    CS ={"1m": 86400, "1h": 365 * 86400, "1d": 3650 * 86400,
          "gapfill_1m": 86400}
    seqs = _seqs(spark)
    first = seqs.filter(_bucket_of(F.col("doc_id")) < 3 * 1440)
    last_day = seqs.filter(_bucket_of(F.col("doc_id")) >= 3 * 1440)

    inc_dir = str(tmp_path / "inc")
    run_pipeline(spark, first, inc_dir, check_invariant=False,
                 stl_kwargs=STL_KW, incremental_gapfill=True,
                 chunk_seconds=CS)
    ch_t = KeyedTable(f"{inc_dir}/chunks", ["source", "tier", "chunk_start"])
    before = ch_t.read(spark).filter("tier = '1m'").toPandas()
    assert len(before) == 2 * 3  # 2 sources x 3 day-windows

    m2 = run_pipeline(spark, last_day, inc_dir, check_invariant=False,
                      stl_kwargs=STL_KW, incremental_gapfill=True,
                      chunk_seconds=CS)
    assert m2["chunk_windows_recomputed"]["1m"] == 1  # only day 4's window

    full_dir = str(tmp_path / "full")
    run_pipeline(spark, seqs, full_dir, check_invariant=False,
                 stl_kwargs=STL_KW, chunk_seconds=CS)
    cols = ["source", "tier", "chunk_start", "n_points", "crc32"]
    inc = (ch_t.read(spark).select(cols).toPandas()
           .sort_values(cols).reset_index(drop=True))
    full = (KeyedTable(f"{full_dir}/chunks", ["source", "tier", "chunk_start"])
            .read(spark).select(cols).toPandas()
            .sort_values(cols).reset_index(drop=True))
    assert len(inc) == len(full)
    for c in cols:
        assert (inc[c].values == full[c].values).all(), c


@pytest.mark.slow
def test_legacy_chunks_table_missing_props_forces_overwrite(spark, tmp_path):
    """A chunks table written before the 'chunking'/'codec' props existed
    (prop() returns None) must be treated as a potential mismatch: the
    anchored+incremental run takes the full re-encode OVERWRITE path, never
    the keyed merge that could leave stale overlapping legacy chunks
    (round-4 ADVICE)."""
    import json

    CS = {"1m": 86400, "1h": 365 * 86400, "1d": 3650 * 86400,
          "gapfill_1m": 86400}
    seqs = _seqs(spark)
    out = str(tmp_path / "legacy")
    run_pipeline(spark, seqs, out, check_invariant=False,
                 stl_kwargs=dict(STL_KW), chunk_seconds=CS)
    ch_t = KeyedTable(f"{out}/chunks", ["source", "tier", "chunk_start"])
    assert ch_t.prop("chunking") == "anchored"
    # simulate a legacy manifest: strip the props block entirely
    man = ch_t._load()
    man.pop("props", None)
    ch_t._publish(man)
    assert ch_t.prop("chunking") is None and ch_t.prop("codec") is None

    m2 = run_pipeline(spark, seqs, out, check_invariant=False,
                      stl_kwargs=dict(STL_KW), incremental_gapfill=True,
                      chunk_seconds=CS)
    mig = m2["chunks_discipline_migration"]
    assert mig["from"] is None and mig["to"] == "anchored"
    assert mig["from_codec"] is None and mig["to_codec"] == "GOR2"
    # the overwrite re-stamped both props
    assert ch_t.prop("chunking") == "anchored"
    assert ch_t.prop("codec") == "GOR2"
    # table content identical to a fresh anchored run (no dupes/stale rows)
    fresh = str(tmp_path / "fresh2")
    run_pipeline(spark, seqs, fresh, check_invariant=False,
                 stl_kwargs=dict(STL_KW), chunk_seconds=CS)
    f_t = KeyedTable(f"{fresh}/chunks", ["source", "tier", "chunk_start"])
    a = (ch_t.read(spark).toPandas().groupby("tier").n_points.sum()
         .sort_index())
    b = (f_t.read(spark).toPandas().groupby("tier").n_points.sum()
         .sort_index())
    assert (a == b).all()
