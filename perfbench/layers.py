"""Per-layer metrics of a traced run.

Two sources, both measured from outside the engine:

* the workload's own traced operations give the Spark scheduler totals
  (``spark.*``, per operation) and the tracing overhead;
* a fixed probe suite, identical for every workload, times standalone
  calls into each layer's public functions on a small seeded probe table
  and reads the status store for the jobs each call caused.

Which end-to-end number each layer should move is stated in
perfbench/README.md.
"""

from __future__ import annotations

import os
import shutil

import numpy as np

import gen
import workloads

PROBE_SHAPE = gen.SeqShape(n_sources=4, n_buckets=2 * 1440, base_rate=4.0,
                           tok_lo=16, tok_hi=64)
KERNEL_LEN = 1440  # one day of minutes: a week at m=64 takes ~30 s on 4 vCPUs
KERNEL_M1_CALLS = 8
KERNEL_BATCH = 64


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _files(path: str) -> dict[str, int]:
    return {os.path.join(dp, f): os.path.getsize(os.path.join(dp, f))
            for dp, _, fs in os.walk(path) for f in fs}


def _new_bytes(before: dict, after: dict) -> tuple[int, int]:
    new = {p: b for p, b in after.items() if p not in before}
    return sum(new.values()), len(new)


def kernel_series(seed: int, m: int) -> np.ndarray:
    """m one-day minute series: a seasonal harmonic, a trend, noise and
    ~5% NaN, float32."""
    rng = np.random.default_rng([seed, 0x57])
    t = np.arange(KERNEL_LEN)
    y = (10 + 3 * np.sin(2 * np.pi * t / 52)[None, :]
         + 0.001 * t[None, :] + rng.normal(0, 0.5, (m, KERNEL_LEN)))
    y[rng.random((m, KERNEL_LEN)) < 0.05] = np.nan
    return y.astype(np.float32)


def kernel_rates(seed: int) -> dict:
    """Series per second of ``stl_filt`` one series per call (m=1) and in
    one batch of 64 (m=64), with the gap-fill's STL parameters."""
    from hastl_spark.kernel import canonicalize_stl_params
    from hastl_spark.kernel.stl import stl_filt

    p = canonicalize_stl_params(KERNEL_LEN, 52, 19, d_s=0, jump_s=1, jump_t=1,
                                jump_l=1, n_inner=2, n_outer=1)
    y = kernel_series(seed, KERNEL_BATCH)
    t = workloads.Timer()
    for i in range(KERNEL_M1_CALLS):
        stl_filt(y[i:i + 1], p)
    m1 = KERNEL_M1_CALLS / t.s()
    t = workloads.Timer()
    stl_filt(y, p)
    return {"kernel.stl_m1_series_per_s": (m1, "1/s"),
            "kernel.stl_m64_series_per_s": (KERNEL_BATCH / t.s(), "1/s")}


class Suite:
    def __init__(self, ctx, tracer):
        self.ctx = ctx
        self.dir = os.path.join(ctx.work, "probe")
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(self.dir)
        self.tr = tracer

    def spark_of(self, name) -> dict:
        return self.tr.find(name)[-1]["spark"]

    def run(self) -> dict:
        from pyspark.sql import functions as F

        from hastl_spark.operators.chunks import decode_chunks_df, gorilla_chunks
        from hastl_spark.operators.gapfill import stl_gapfill
        from hastl_spark.operators.packing import pack_tokens
        from hastl_spark.operators.rollup import rollup_1m, with_event_time
        from hastl_spark.plans.retention import apply_retention
        from hastl_spark.plans.rollup_job import run_pipeline
        from hastl_spark.sources.tables import DAY_SPEC, KeyedTable

        spark, m = self.ctx.spark, {}
        seqs_path = os.path.join(self.dir, "seqs")
        gen.write_parquet_dir(gen.sequences(self.ctx.seed, PROBE_SHAPE),
                              seqs_path, 4)
        seqs = spark.read.parquet(seqs_path)

        # plans.rollup_job: stage walls of a default-config build from an
        # empty dir; the second, warm one is reported
        tiers = os.path.join(self.dir, "tiers")
        for _ in range(2):
            shutil.rmtree(tiers, ignore_errors=True)
            with self.tr.span("rollup_job.probe"):
                sw = run_pipeline(spark, seqs, tiers)["summary"]["stage_walls"]
        for k, name in (("rollup_1m_scan", "rollup_1m_scan_s"),
                        ("merge_1m", "merge_1m_s"),
                        ("gapfill+cascade", "gapfill_cascade_s"),
                        ("chunks", "chunks_s")):
            m[f"rollup_job.{name}"] = (sw[k], "s")

        # operators.rollup
        with self.tr.span("rollup") as s:
            _noop(rollup_1m(with_event_time(seqs)))
        sp = self.spark_of("rollup")
        m["rollup.wall_s"] = (s["wall_s"], "s")
        m["rollup.input_bytes"] = (sp["input_bytes"], "B")
        m["rollup.shuffle_write_bytes"] = (sp["shuffle_write_bytes"], "B")

        t1m = KeyedTable(os.path.join(tiers, "tier_1m"),
                         ["source", "bucket"]).read(spark).cache()
        t1m.count()

        # operators.gapfill
        with self.tr.span("gapfill") as s:
            _noop(stl_gapfill(t1m))
        sp = self.spark_of("gapfill")
        m["gapfill.wall_s"] = (s["wall_s"], "s")
        m["gapfill.python_s"] = (sp["python_s"], "s")
        m["gapfill.tasks"] = (sp["tasks"], "count")
        with self.tr.span("gapfill_chunked") as s:
            _noop(stl_gapfill(t1m, chunk_buckets=1440))
        m["gapfill_chunked.wall_s"] = (s["wall_s"], "s")

        # kernel
        with self.tr.span("kernel"):
            m.update(kernel_rates(self.ctx.seed))

        # operators.chunks / operators.gorilla
        with self.tr.span("chunks.encode") as s:
            enc = gorilla_chunks(t1m, "sum_n_tok").cache()
            tot = enc.agg(F.sum("bytes"), F.sum("n_points")).collect()[0]
        m["chunks.encode_s"] = (s["wall_s"], "s")
        m["chunks.bytes_per_point"] = (tot[0] / tot[1], "B")
        stored = KeyedTable(os.path.join(tiers, "chunks"),
                            ["source", "tier", "chunk_start"]).read(spark)
        with self.tr.span("chunks.decode") as s:
            _noop(decode_chunks_df(stored.filter("tier = '1m'")))
        m["chunks.decode_s"] = (s["wall_s"], "s")
        enc.unpersist()

        # sources.tables: merge a materialized frame into a fresh table,
        # then the same frame again (every key overlaps)
        tpath = os.path.join(self.dir, "table")
        table = KeyedTable(tpath, ["source", "bucket"], part_spec=DAY_SPEC)
        before = _files(tpath)
        with self.tr.span("tables.merge_fresh") as s:
            r1 = table.merge_upsert(spark, t1m, watermark_col="bucket")
        m["tables.merge_fresh_s"] = (s["wall_s"], "s")
        with self.tr.span("tables.merge_overlap") as s:
            r2 = table.merge_upsert(spark, t1m, watermark_col="bucket")
        m["tables.merge_overlap_s"] = (s["wall_s"], "s")
        written, files = _new_bytes(before, _files(tpath))
        m["tables.bytes_written"] = (written, "B")
        m["tables.files_written"] = (files, "count")
        m["tables.partitions_rewritten"] = (
            len(r1["partitions"]) + len(r2["partitions"]), "count")
        with self.tr.span("tables.read") as s:
            _noop(table.read(spark))
        m["tables.read_s"] = (s["wall_s"], "s")
        m["tables.snapshots"] = (len(table.snapshots()), "count")
        m["tables.stored_bytes"] = (workloads.live_bytes(tpath), "B")

        # plans.retention: keep the newest 12 hours of the 2-day probe table
        # (drops day one's partitions, rewrites day two's)
        before = _files(tpath)
        with self.tr.span("retention") as s:
            rec = apply_retention(spark, table, 12 * 3600)
        m["retention.s"] = (s["wall_s"], "s")
        m["retention.partitions_dropped"] = (rec["dropped_partitions"], "count")
        m["retention.bytes_rewritten"] = (
            _new_bytes(before, _files(tpath))[0], "B")
        t1m.unpersist()

        # operators.packing
        with self.tr.span("packing") as s:
            _noop(pack_tokens(workloads.packing_input(seqs),
                              workloads.PACK_BUDGET))
        sp = self.spark_of("packing")
        m["packing.wall_s"] = (s["wall_s"], "s")
        m["packing.shuffle_bytes"] = (sp["shuffle_write_bytes"], "B")
        return m


def per_layer(ctx, results, tracer) -> dict:
    n = max(1, len(results))
    tot = tracer.spark_totals()
    m = {f"spark.{k}": (tot[k] / n, u) for k, u in (
        ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
        ("run_s", "s"), ("cpu_s", "s"), ("python_s", "s"),
        ("spill_bytes", "B"), ("driver_gap_s", "s"))}
    m["spark.shuffle_bytes"] = (tot["shuffle_write_bytes"] / n, "B")
    op_s = sum(r["wall_s"] for r in results)
    m["trace.overhead_frac"] = (tracer.overhead_s / (op_s - tracer.overhead_s), "1")
    m.update(Suite(ctx, tracer).run())
    return m
