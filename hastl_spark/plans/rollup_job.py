"""End-to-end rollup + STL-gapfill + Gorilla pipeline driver.

``python -m hastl_spark.plans.rollup_job --scale tiny --out /tmp/tiers``

Stages (SURVEY.md §3.4):
  sequences -> token-invariant check -> event-time derivation ->
  salted 1m rollup -> MERGE tier_1m -> STL gap-fill (applyInPandas) ->
  MERGE gapfill_1m -> 1h/1d re-rollup -> MERGE -> Gorilla chunks per tier ->
  MERGE chunk tables; lineage manifest per run; prints one JSON metrics line.

Runs incrementally: pass ``--since-bucket N`` to restrict the raw scan to
buckets >= N (Iceberg snapshot-diff stand-in); MERGE keeps prior rows.
"""

from __future__ import annotations

import argparse
import datetime
import json
import os
import threading
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hastl_spark.operators.chunks import gorilla_chunks
from hastl_spark.operators.gapfill import stl_gapfill
from hastl_spark.operators.rollup import rollup_1m, rollup_tier, token_invariant_violations, with_event_time
from hastl_spark.session import get_spark
from hastl_spark.sources.sequences import SEQS_PER_BUCKET, generate_scale
from hastl_spark.sources.tables import (CHUNK_SPEC, DAY_SPEC, MONTH_SPEC,
                                        PART_SEP, KeyedTable)


# time-anchored chunk windows per tier (points/window = span / bucket size:
# 10080 for the 1m tiers, 8760 for 1h, 3650 for 1d — bounded UDF memory,
# month-or-finer incremental granularity)
DEFAULT_CHUNK_SECONDS = {"1m": 7 * 86400, "1h": 365 * 86400,
                         "1d": 3650 * 86400, "gapfill_1m": 7 * 86400}


def _utc_seconds(ts: str) -> int:
    """Epoch seconds of a UTC day ('2026-01-04') or watermark timestamp
    ('2026-01-04 23:59:00') as the tables' manifests record them."""
    return int(datetime.datetime.fromisoformat(ts)
               .replace(tzinfo=datetime.timezone.utc).timestamp())


def clip_touched_chunks(chunk_ids, watermark_map: dict, chunk_buckets: int,
                        bucket_seconds: int = 60) -> tuple[list[int], int]:
    """Cut touched gap-fill chunk ids to the chunks a day-partitioned 1m
    table holds, from its manifest: a ``source~day`` partition starts no
    earlier than the day and ends at its watermark (max bucket). Returns
    the kept ids and the (source, chunk) group count they run as."""
    C = int(chunk_buckets)
    spans: dict = {}
    for part, wm in watermark_map.items():
        src, day = part.rsplit(PART_SEP, 1)
        c0 = _utc_seconds(day) // bucket_seconds // C
        c1 = _utc_seconds(wm) // bucket_seconds // C
        lo, hi = spans.get(src, (c0, c1))
        spans[src] = (min(lo, c0), max(hi, c1))
    per_src = [[k for k in chunk_ids if lo <= k <= hi]
               for lo, hi in spans.values()]
    return (sorted({k for ks in per_src for k in ks}),
            sum(len(ks) for ks in per_src))


def run_pipeline(
    spark: SparkSession,
    sequences: DataFrame,
    out_dir: str,
    n_salts: int = 16,
    stl_kwargs: dict | None = None,
    do_gorilla: bool = True,
    check_invariant: bool = True,
    incremental_gapfill: bool = False,
    chunk_seconds: dict | None = None,
    profile_stages: bool = False,
) -> dict:
    """Full pipeline run. The two independent post-1m branches — STL
    gap-fill and the 1h/1d tier cascade — run on concurrent driver threads
    (Spark schedules their jobs FAIRly across the executor): the cascade's
    merge latency hides under the STL compute, removing a serial driver
    segment that Amdahl-caps scaling efficiency.

    ``incremental_gapfill=True`` (requires ``stl_kwargs['chunk_buckets']``)
    recomputes only the gap-fill chunks whose halo-extended window
    intersects the days this run's 1m merge touched — an incremental run's
    STL cost scales with the touched range, not the table's full history.
    The first run on an empty gapfill table computes everything.

    ``chunk_seconds={tier: seconds}`` switches the Gorilla chunk tables to
    TIME-ANCHORED windows (stable chunk keys under backfill) and a KEYED
    merge; combined with ``incremental_gapfill=True`` the chunk stage then
    re-encodes only the windows intersecting this run's touched days —
    removing the last O(full-history) cost per incremental run. Default
    (None) keeps the densest row-count chunking with wholesale partition
    replacement."""
    # validate before any table write: a first run under a bad config would
    # otherwise merge a full unchunked gap-fill and fail only on the next
    if incremental_gapfill and not (stl_kwargs or {}).get("chunk_buckets"):
        raise ValueError("incremental_gapfill requires "
                         "stl_kwargs['chunk_buckets']")
    os.makedirs(out_dir, exist_ok=True)
    metrics: dict = {}
    stage_walls: dict = {}
    t_start = time.time()

    def _mark(name, t0):
        stage_walls[name] = round(time.time() - t0, 3)
        return time.time()

    seq = with_event_time(sequences)

    # raw -> 1m (salted two-phase agg). Day-partitioned (source~day): an
    # incremental/backfill merge rewrites only the touched days' files.
    # The per-row token-array invariant rides the SAME pass as associative
    # extra aggregates (count of size(tokens)<>n_tok violations + an
    # order-insensitive sampled content checksum — catches drops,
    # truncation and reordering at zero extra scans; the old separate
    # invariant scan was ~25% of pipeline wall). A FULL per-element hash
    # costs 2-5x the pipeline at scale (array hashing is outside codegen),
    # so full-fidelity token equality is asserted in the pytest suite at
    # small scale instead (tests/test_pipeline_spark).
    t0 = time.time()
    r1m_inv = rollup_1m(seq, n_salts=n_salts, with_invariant=check_invariant)
    if check_invariant:
        from pyspark import StorageLevel

        r1m_inv = r1m_inv.persist(StorageLevel.MEMORY_AND_DISK)
        row = r1m_inv.selectExpr("sum(bad) AS bad", "bit_xor(chk) AS chk").collect()[0]
        if (row["bad"] or 0) != 0:  # explicit raise: survives python -O
            raise RuntimeError(
                f"token-array invariant violated on {row['bad']} rows")
        metrics["token_invariant_violations"] = int(row["bad"] or 0)
        metrics["token_checksum"] = str(row["chk"])
        r1m = r1m_inv.select("source", "bucket", "cnt", "sum_n_tok")
        t0 = _mark("rollup_1m_scan", t0)
    else:
        r1m = r1m_inv
    t_1m = KeyedTable(os.path.join(out_dir, "tier_1m"), ["source", "bucket"],
                      part_spec=DAY_SPEC)
    rec = t_1m.merge_upsert(spark, r1m, watermark_col="bucket",
                            keep_data=True)
    if check_invariant:
        r1m_inv.unpersist()
    # The maintained 1m table is consumed by THREE downstream stages
    # (gap-fill, 1h re-rollup, chunk encode). When this run's merge covered
    # every partition (any non-incremental run), the merge's own cached
    # written frame IS the table — reuse it instead of re-listing and
    # re-decoding the hundreds of freshly written partition files (a fixed
    # serial cost that caps small-cluster scaling efficiency). Incremental
    # runs fall back to a cached table read.
    if rec.pop("covers_table", False):
        cur_1m = rec.pop("data")
    else:
        rec.pop("data").unpersist()
        cur_1m = t_1m.read(spark).persist()
        cur_1m.count()
    metrics["tier_1m"] = rec
    t0 = _mark("merge_1m", t0)
    days = sorted({p.split(PART_SEP)[1] for p in metrics["tier_1m"]["partitions"]})
    t_gap = KeyedTable(os.path.join(out_dir, "gapfill_1m"), ["source", "bucket"],
                       part_spec=DAY_SPEC)
    gap_for_chunks: dict = {}

    def branch_gapfill():
        # STL gap-fill on the 1m series. Incremental mode recomputes only
        # the epoch-anchored chunks whose halo window intersects this run's
        # touched days; the day-partitioned MERGE then rewrites only those
        # days' files. Exactness caveat: chunked STL matches the global fit
        # exactly on dense grids only (see operators/gapfill.py docstring).
        kw = dict(stl_kwargs or {})
        if incremental_gapfill and t_gap.exists():
            from hastl_spark.operators.gapfill import (default_halo_buckets,
                                                       touched_chunk_ids)
            bsec = kw.get("bucket_seconds", 60)
            # 'is None', not 'or': an explicit halo_buckets=0 must make the
            # touched-chunk set match the halo stl_gapfill actually applies
            halo = kw.get("halo_buckets")
            halo = halo if halo is not None else default_halo_buckets(
                kw.get("n_p", 52),
                **{k: v for k, v in kw.items()
                   if k in ("q_s", "d_s", "jump_s", "jump_t", "jump_l",
                            "n_inner", "n_outer", "q_t", "q_l", "d_t", "d_l")})
            ranges = []
            for d in days:
                lo_pos = _utc_seconds(d) // bsec
                ranges.append((lo_pos, lo_pos + 86400 // bsec - 1))
            kw["only_chunks"], n_groups = clip_touched_chunks(
                touched_chunk_ids(ranges, kw["chunk_buckets"], halo),
                metrics["tier_1m"]["watermark_map"], kw["chunk_buckets"],
                bsec)
            metrics["gapfill_chunks_recomputed"] = len(kw["only_chunks"])
            metrics["gapfill_groups_recomputed"] = n_groups
        gap = stl_gapfill(cur_1m, **kw)
        rec = t_gap.merge_upsert(spark, gap, watermark_col="bucket",
                                 keep_data=do_gorilla)
        if do_gorilla and rec.pop("covers_table", False):
            # full-table merge (the common non-incremental run): hand the
            # cached written frame to the chunk encoder instead of
            # re-listing + re-decoding ~sources x days small parquet files
            gap_for_chunks["df"] = rec.pop("data")
        elif do_gorilla:
            rec.pop("data").unpersist()
        metrics["gapfill_1m"] = rec

    # tier cascade (re-aggregates the maintained 1m table, not the raw
    # scan). Incremental: only the DAYS this run's 1m merge touched need
    # re-rollup — the touched-day set comes from the merge's own lineage
    # record (day boundaries align with 1h and 1d buckets, so day-filtered
    # re-rollup yields complete tier buckets); MERGE keeps other days' rows.
    # month granularity for 1h: a source-day of hourly data is 24 rows, so
    # day dirs would be pathological small files at any input scale
    t_1h = KeyedTable(os.path.join(out_dir, "tier_1h"), ["source", "bucket"],
                      part_spec=MONTH_SPEC)
    t_1d = KeyedTable(os.path.join(out_dir, "tier_1d"), ["source", "bucket"])

    tier_cache: dict = {}

    def _maybe_keep(table, rec, name):
        """Reuse a merge's cached written frame as the tier's content when
        it covered every partition; else fall back to a table read."""
        if rec.pop("covers_table", False):
            tier_cache[name] = rec.pop("data")
        elif "data" in rec:
            rec.pop("data").unpersist()
        return tier_cache.get(name)

    def branch_cascade():
        upd_1m = cur_1m.filter(F.to_date("bucket").cast("string").isin(days))
        r1h = rollup_tier(upd_1m, "1h")
        rec_h = t_1h.merge_upsert(spark, r1h, watermark_col="bucket",
                                  keep_data=True)
        cur_1h = _maybe_keep(t_1h, rec_h, "1h")
        metrics["tier_1h"] = rec_h
        if cur_1h is None:
            cur_1h = t_1h.read(spark)
        upd_1h = cur_1h.filter(F.to_date("bucket").cast("string").isin(days))
        rec_d = t_1d.merge_upsert(spark, rollup_tier(upd_1h, "1d"),
                                  watermark_col="bucket",
                                  keep_data=do_gorilla)
        if do_gorilla:
            _maybe_keep(t_1d, rec_d, "1d")
        metrics["tier_1d"] = rec_d

    # gap-fill (STL pandas-UDF compute) and the 1h/1d cascade (two small
    # merges) are independent given cur_1m: overlapping them hides the
    # cascade's fixed merge latency under the STL work instead of adding it
    # serially (measured as the dominant Amdahl term at small core counts).
    errs: list[BaseException] = []

    def _run(fn):
        try:
            fn()
        except BaseException as e:  # surface thread failures to caller
            errs.append(e)

    th = threading.Thread(target=_run, args=(branch_cascade,), daemon=True)
    th.start()
    _run(branch_gapfill)
    th.join()
    if errs:
        raise errs[0]
    t0 = _mark("gapfill+cascade", t0)

    if do_gorilla:
        # ONE unified chunk table keyed (source, tier, chunk_start): the four
        # per-tier chunk streams union into a single MERGE (one write job
        # instead of four — chunk rows are tiny, job latency dominated)
        t_ch = KeyedTable(os.path.join(out_dir, "chunks"),
                          ["source", "tier", "chunk_start"],
                          part_spec=CHUNK_SPEC)
        anchored = chunk_seconds is not None
        # chunking-discipline guard (round-3 ADVICE): anchored and row-count
        # runs produce DIFFERENT chunk_start keys under the same CHUNK_SPEC,
        # so switching disciplines over existing history would leave stale
        # overlapping chunks that duplicate points on decode. The discipline
        # is recorded as a table property; on a switch we force a FULL
        # re-encode published as an overwrite snapshot (stale partitions
        # dropped), never an incremental keyed merge.
        discipline = "anchored" if anchored else "rowcount"
        from hastl_spark.operators.gorilla import CODEC_VERSION

        prev_disc = t_ch.prop("chunking") if t_ch.exists() else None
        prev_codec = t_ch.prop("codec") if t_ch.exists() else None
        # A PRE-EXISTING table with NO recorded discipline (written before
        # the prop existed) must be treated as a potential mismatch too:
        # assuming it matches would let an anchored+incremental run keyed-
        # merge over legacy row-count chunks — exactly the stale-overlap
        # corruption this guard prevents. Unknown discipline => full
        # re-encode overwrite, which also stamps the prop going forward.
        # Same rule for the Gorilla codec version: decode() asserts one
        # magic, so a merge must never mix GOR1-era rows with GOR2 rows.
        migrate_chunks = t_ch.exists() and (prev_disc != discipline
                                            or prev_codec != CODEC_VERSION)
        inc_chunks = (anchored and incremental_gapfill and t_ch.exists()
                      and not migrate_chunks)
        gap_src = gap_for_chunks.get("df")
        if gap_src is None:
            gap_src = t_gap.read(spark)
        tier_srcs = {
            "1m": (cur_1m, "sum_n_tok"),
            "1h": (tier_cache.get("1h") if tier_cache.get("1h") is not None
                   else t_1h.read(spark), "sum_n_tok"),
            "1d": (tier_cache.get("1d") if tier_cache.get("1d") is not None
                   else t_1d.read(spark), "sum_n_tok"),
            "gapfill_1m": (gap_src, "gapfilled"),
        }
        parts = []
        n_windows = {}
        for tier, (tdf, vcol) in tier_srcs.items():
            W = None
            if anchored:
                W = int(chunk_seconds[tier])
                if inc_chunks:
                    # re-encode ONLY the time windows intersecting this
                    # run's touched days (whole windows: the encode needs
                    # every row of a touched window, not just touched days).
                    # The gapfill tier's touched set comes from the
                    # gap-fill MERGE's own partitions — its halo rewrites
                    # days beyond the 1m merge's set
                    tier_days = days
                    if tier == "gapfill_1m":
                        tier_days = sorted({
                            p.split(PART_SEP)[1]
                            for p in metrics["gapfill_1m"]["partitions"]})
                    win_set: set[int] = set()
                    for d in tier_days:
                        d0 = _utc_seconds(d)
                        win_set.update(range(d0 // W, (d0 + 86399) // W + 1))
                    wins = sorted(win_set)
                    n_windows[tier] = len(wins)
                    tdf = tdf.filter(
                        (F.unix_timestamp("bucket") / W).cast("long")
                        .isin(wins))
            parts.append(gorilla_chunks(tdf, vcol, chunk_seconds=W)
                         .withColumn("tier", F.lit(tier)))
        chunks = parts[0]
        for p in parts[1:]:
            chunks = chunks.unionByName(p)
        if profile_stages:
            # materialize the encode fan-in before the merge: chunk rows
            # are tiny (one per source x tier x window), so the persist is
            # cheap and the stage wall splits into encode vs merge — the
            # Amdahl decomposition needs to see WHICH half stops scaling.
            # OPT-IN (scaling_bench passes --profile-stages): the count()
            # is an extra job barrier that costs ~2s of encode/merge
            # overlap at small scale, so the default path keeps one job
            from pyspark import StorageLevel

            chunks = chunks.persist(StorageLevel.MEMORY_AND_DISK)
            metrics["n_chunks"] = chunks.count()
            t0 = _mark("chunks_encode", t0)
        # row-count chunking: chunk sets are REGENERATED from the full tier
        # each run, and a backfill can shift 65536-point chunk boundaries
        # (new chunk_start keys overlapping stale rows) — so affected
        # partitions are replaced wholesale. Time-anchored chunking: keys
        # are stable, so a keyed upsert replaces exactly the re-encoded
        # windows. Month sub-partitioning (by chunk_start) + the chunk_end
        # watermark make retention a metadata-only drop of fully-aged
        # partitions (plans/retention.py) either way.
        if inc_chunks:
            metrics["chunk_windows_recomputed"] = n_windows
        if migrate_chunks:
            metrics["chunks_discipline_migration"] = {
                "from": prev_disc, "to": discipline,
                "from_codec": prev_codec, "to_codec": CODEC_VERSION}
            metrics["chunks"] = t_ch.overwrite(
                spark, chunks, watermark_col="chunk_end",
                props={"chunking": discipline,
                       "codec": CODEC_VERSION})
        else:
            metrics["chunks"] = t_ch.merge_upsert(
                spark, chunks, watermark_col="chunk_end",
                replace_partitions=not anchored,
                props={"chunking": discipline,
                       "codec": CODEC_VERSION})
        if profile_stages:
            chunks.unpersist()
            t0 = _mark("chunks_merge", t0)
        else:
            t0 = _mark("chunks", t0)

    cur_1m.unpersist()
    if gap_for_chunks.get("df") is not None:
        gap_for_chunks["df"].unpersist()
    for df_c in tier_cache.values():
        df_c.unpersist()
    wall = time.time() - t_start
    pts = (metrics["tier_1m"]["rows_in"] + metrics["tier_1h"]["rows_in"]
           + metrics["tier_1d"]["rows_in"] + metrics["gapfill_1m"]["rows_in"])
    metrics["summary"] = {
        "wall_s": round(wall, 3),
        "rolled_up_points": pts,
        "points_per_sec": round(pts / wall, 1),
        "stage_walls": stage_walls,
    }
    with open(os.path.join(out_dir, "_run_manifest.json"), "w") as f:
        json.dump(metrics, f, indent=1, default=str)
    return metrics


def main(argv=None):
    ap = argparse.ArgumentParser(description="rollup + STL gap-fill + Gorilla pipeline")
    from hastl_spark.sources.sequences import SCALES
    ap.add_argument("--scale", default="tiny", choices=sorted(SCALES),
                    help="synthetic scale")
    ap.add_argument("--sequences-path", default=None, help="read sequences parquet instead of generating")
    ap.add_argument("--out", required=True)
    ap.add_argument("--cpus", type=int, default=None)
    ap.add_argument("--n-salts", type=int, default=16)
    ap.add_argument("--since-bucket", type=int, default=None,
                    help="incremental: only process bucket index >= N")
    ap.add_argument("--no-gorilla", action="store_true")
    ap.add_argument("--incremental-gapfill", action="store_true",
                    help="recompute only gap-fill chunks touched by this "
                         "run's days (requires --chunk-buckets)")
    ap.add_argument("--chunk-buckets", type=int, default=None,
                    help="chunked STL gap-fill chunk size in buckets")
    ap.add_argument("--anchored-chunks", action="store_true",
                    help="time-anchored Gorilla chunk windows (stable keys; "
                         "enables incremental chunk re-encode)")
    ap.add_argument("--profile-stages", action="store_true",
                    help="materialize the chunk encode before the merge so "
                         "stage walls split encode vs merge (adds a job "
                         "barrier; scaling_bench turns this on)")
    ap.add_argument("--repeat", type=int, default=1,
                    help="timed pipeline executions in this session (bench)")
    ap.add_argument("--warmup", type=int, default=0,
                    help="discarded in-session warmup executions (JIT/codegen)")
    args = ap.parse_args(argv)

    spark = get_spark(args.cpus, app_name="hastl-rollup-job")
    if args.sequences_path:
        seqs = spark.read.parquet(args.sequences_path)
    else:
        seqs = generate_scale(spark, args.scale)
    if args.since_bucket is not None:
        seq_no = F.split(F.col("doc_id"), "-").getItem(1).cast("long")
        seqs = seqs.filter((seq_no / SEQS_PER_BUCKET).cast("long") >= args.since_bucket)

    stl_kwargs = ({"chunk_buckets": args.chunk_buckets}
                  if args.chunk_buckets else None)
    if args.repeat == 1 and args.warmup == 0:
        metrics = run_pipeline(spark, seqs, args.out, n_salts=args.n_salts,
                               do_gorilla=not args.no_gorilla,
                               stl_kwargs=stl_kwargs,
                               incremental_gapfill=args.incremental_gapfill,
                               chunk_seconds=(DEFAULT_CHUNK_SECONDS
                                              if args.anchored_chunks else None),
                               profile_stages=args.profile_stages)
        print(json.dumps(metrics["summary"]))
        return

    # bench mode: warmup + repeated timed executions in ONE session, so JVM
    # JIT / codegen / python-worker startup are excluded from the timings
    import shutil

    walls = []
    stage_walls = []
    pts = 0
    for i in range(args.warmup + args.repeat):
        out = f"{args.out}_r{i}"
        shutil.rmtree(out, ignore_errors=True)
        metrics = run_pipeline(spark, seqs, out, n_salts=args.n_salts,
                               do_gorilla=not args.no_gorilla,
                               stl_kwargs=stl_kwargs,
                               incremental_gapfill=args.incremental_gapfill,
                               chunk_seconds=(DEFAULT_CHUNK_SECONDS
                                              if args.anchored_chunks else None),
                               profile_stages=args.profile_stages)
        shutil.rmtree(out, ignore_errors=True)
        if i >= args.warmup:
            walls.append(metrics["summary"]["wall_s"])
            stage_walls.append(metrics["summary"]["stage_walls"])
            pts = metrics["summary"]["rolled_up_points"]
    print(json.dumps({"walls": walls, "rolled_up_points": pts,
                      "stage_walls": stage_walls}))


if __name__ == "__main__":
    main()
