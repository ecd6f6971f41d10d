"""The benchmark's workloads. Each is a closed loop from one client: the
next operation starts when the previous one returned. Both read the same
seeded input: a 7-day ``sequences`` history and the day after it.

``full_build``: one operation builds the 7-day history from an empty output
directory with ``plans.rollup_job.run_pipeline`` in its default
configuration (rollup scan, token invariant, STL gap-fill, tier cascade,
Gorilla chunks, all merged through ``sources.tables``), then packs the same
history with ``operators.packing.pack_tokens``. It is the scan- and
compute-bound case, timed from a fresh session as a batch job runs.

``daily_refresh``: set-up builds the history once through the documented
incremental configuration. One operation copies that history (untimed),
ingests day 8 through the same configuration and applies
``plans.retention.run_retention`` with a 7-day window on ``tier_1m`` and
``gapfill_1m``. It is dominated by table merges, retention and fixed job
cost while STL recomputes only the touched chunks, so a change that helps
full builds but costs refresh latency shows here.
"""

from __future__ import annotations

import dataclasses
import json
import os
import shutil
import statistics
import time

import gen
from checks import equal, frames_match

from hastl_spark.sources.sequences import EPOCH0, SEQS_PER_BUCKET

DAY_S = 86400

# 4 Zipf-skewed sources, 7 days of history plus the day the refresh
# ingests, stationary rate (every day carries the same load)
BUILD_SHAPE = gen.SeqShape(n_sources=4, n_buckets=8 * 1440, base_rate=8.0,
                           tok_lo=16, tok_hi=128)
HISTORY_DAYS = 7
PACK_BUDGET = 2048
RETENTION = {"tier_1m": HISTORY_DAYS * DAY_S, "gapfill_1m": HISTORY_DAYS * DAY_S}


def incremental_config() -> dict:
    """run_pipeline's documented incremental configuration."""
    from hastl_spark.plans.rollup_job import DEFAULT_CHUNK_SECONDS

    return dict(incremental_gapfill=True, stl_kwargs={"chunk_buckets": 1440},
                chunk_seconds=DEFAULT_CHUNK_SECONDS)


def packing_input(seqs):
    """pack_tokens needs an integral id: the sequence number in doc_id."""
    from pyspark.sql import functions as F

    return seqs.select(
        F.substring("doc_id", -10, 10).cast("long").alias("doc_id"),
        "source", "tokens", "n_tok")


def packed_token_count(spark, seqs) -> int:
    """Packs every token and sums the pack sizes: the sum forces the full
    array assembly (a bare count would let the optimizer prune it)."""
    from pyspark.sql import functions as F

    from hastl_spark.operators.packing import pack_tokens

    return int(pack_tokens(packing_input(seqs), PACK_BUDGET)
               .select(F.sum(F.size("tokens"))).collect()[0][0])


def live_bytes(table_dir: str) -> int:
    """Bytes of the data files the table's current manifest names."""
    with open(os.path.join(table_dir, "_manifest.json")) as f:
        rels = json.load(f)["partitions"].values()
    return sum(os.path.getsize(os.path.join(dp, fn))
               for rel in rels
               for dp, _, fns in os.walk(os.path.join(table_dir, rel))
               for fn in fns)


def median(v):
    return statistics.median(v)


def conservation(tier_pdf, tokens: int, what: str) -> list[str]:
    """Σ sum_n_tok of a tier must equal the tokens generated."""
    return equal(f"{what} token sum", int(tier_pdf["sum_n_tok"].sum()), tokens)


def read_table(spark, out: str, name: str, keys=("source", "bucket")):
    from hastl_spark.sources.tables import KeyedTable

    return KeyedTable(os.path.join(out, name), list(keys)).read(spark)


class Timer:
    def __init__(self):
        self.t0 = time.perf_counter()

    def s(self) -> float:
        return time.perf_counter() - self.t0


class _Sequences:
    """Input generation and output checks shared by both workloads."""

    def __init__(self, ctx):
        self.ctx = ctx
        self.shape = BUILD_SHAPE
        self.hist_buckets = HISTORY_DAYS * 1440
        self.stored = None  # live bytes and points, set by check()

    # ---- inputs
    def generate(self) -> None:
        """Both input tables, from the seed alone."""
        self.hist = gen.sequences(self.ctx.seed, self.shape, 0, self.hist_buckets)
        self.day = gen.sequences(self.ctx.seed, self.shape, self.hist_buckets,
                                 self.shape.n_buckets)

    def write_inputs(self) -> None:
        d = self.ctx.work
        for name, tab in (("hist", self.hist), ("day", self.day)):
            shutil.rmtree(os.path.join(d, name), ignore_errors=True)
            gen.write_parquet_dir(tab, os.path.join(d, name), 8)
        spark = self.ctx.spark
        self.hist_df = spark.read.parquet(os.path.join(d, "hist"))
        self.day_df = spark.read.parquet(os.path.join(d, "day"))
        self.hist_tokens = int(self.hist.column("n_tok").to_numpy().sum())
        self.day_tokens = int(self.day.column("n_tok").to_numpy().sum())
        self.input_info = {
            "shape": dataclasses.asdict(self.shape), "history_days": HISTORY_DAYS,
            "history_rows": self.hist.num_rows, "history_tokens": self.hist_tokens,
            "day_rows": self.day.num_rows, "day_tokens": self.day_tokens}

    def check_setup(self) -> list[str]:
        return []

    def finish_op(self, res: dict) -> None:
        shutil.rmtree(res["out"], ignore_errors=True)

    # ---- full check of one operation's output
    def check_tiers(self, out: str, tables, tokens: int,
                    keep_days: int | None) -> list[str]:
        """Σtier_1d tokens, the retention window of ``tier_1m`` (when
        ``keep_days`` is given), the dense ``gapfill_1m`` grid and the
        decoded 1h chunks of the tiers in ``out``, built from the input
        ``tables``. Also records the live bytes and points of the tiers."""
        import numpy as np
        import pandas as pd

        from hastl_spark.operators.chunks import decode_chunks_df

        spark = self.ctx.spark

        def table(name, keys=("source", "bucket")):
            return read_table(spark, out, name, keys)

        bad = conservation(table("tier_1d").toPandas(), tokens, "tier_1d")
        # (source, bucket) grid of the generated rows
        ts = pd.DataFrame({
            "source": sum((t.column("source").to_pylist() for t in tables), []),
            "b": np.concatenate([t.column("doc_id").to_numpy(zero_copy_only=False)
                                 for t in tables])})
        ts["b"] = ts["b"].str.slice(-10).astype("int64") // SEQS_PER_BUCKET
        present = ts.drop_duplicates()
        cutoff = -1
        if keep_days is not None:
            cutoff = int(present["b"].max()) - keep_days * 1440
            t1m = table("tier_1m").selectExpr(
                "count(*) AS n", "min(bucket) AS lo").collect()[0]
            bad += equal("tier_1m rows inside the retention window",
                         int(t1m["n"]), int((present["b"] >= cutoff).sum()))
            lo = int(pd.Timestamp(t1m["lo"]).value // 60_000_000_000
                     - pd.Timestamp(EPOCH0).value // 60_000_000_000)
            bad += equal("tier_1m oldest bucket", lo, int(present.loc[
                present["b"] >= cutoff, "b"].min()))
        # gap-fill output is dense: every minute between each source's first
        # and last bucket, clipped to the retention window
        span = present.groupby("source")["b"].agg(["min", "max"])
        dense = int((span["max"] - np.maximum(span["min"], cutoff) + 1).sum())
        bad += equal("gapfill_1m rows vs dense grid",
                     int(table("gapfill_1m").count()), dense)
        # the 1h Gorilla chunks decode back to tier_1h exactly
        chunks = table("chunks", ("source", "tier", "chunk_start"))
        dec = decode_chunks_df(chunks.filter("tier = '1h'")).toPandas()
        h1 = table("tier_1h").selectExpr(
            "source", "CAST(unix_timestamp(bucket) AS BIGINT) AS ts",
            "CAST(sum_n_tok AS DOUBLE) AS value").toPandas()
        bad += frames_match("decoded 1h chunks vs tier_1h", dec, h1)
        tiers = ("tier_1m", "tier_1h", "tier_1d", "gapfill_1m")
        self.stored = {
            "bytes": sum(live_bytes(os.path.join(out, t))
                         for t in tiers + ("chunks",)),
            "points": sum(table(t).count() for t in tiers)}
        return bad

    def metrics(self, results) -> dict:
        return {"op_p50_s": (median([r["wall_s"] for r in results]), "s"),
                "stored_bytes_per_point": (
                    self.stored["bytes"] / self.stored["points"], "B")}

    @staticmethod
    def _detail(d: dict) -> dict:
        return {k: {"value": v, "unit": u} for k, (v, u) in d.items()}


class FullBuild(_Sequences):
    name = "full_build"

    def set_up(self) -> None:
        """None: a full build is a batch job that pays its JVM and
        Python-worker warm-up on every run, so it is measured from a fresh
        session."""

    def op(self, tracer, i: int) -> dict:
        from hastl_spark.plans.rollup_job import run_pipeline

        spark = self.ctx.spark
        out = os.path.join(self.ctx.work, f"tiers_{i}")
        shutil.rmtree(out, ignore_errors=True)
        res: dict = {"out": out}
        t = Timer()
        with tracer.span("rollup_job.build") as s:
            res["build"] = run_pipeline(spark, self.hist_df, out)
        res["build_s"] = s["wall_s"]
        with tracer.span("packing.pack_tokens") as s:
            res["packed_tokens"] = packed_token_count(spark, self.hist_df)
        res["pack_s"] = s["wall_s"]
        res["wall_s"] = t.s()
        return res

    def op_failures(self, res: dict) -> list[str]:
        """Cheap per-operation checks, from what the calls returned."""
        bad = equal("build token-invariant violations",
                    res["build"].get("token_invariant_violations"), 0)
        bad += equal("packed tokens", res["packed_tokens"], self.hist_tokens)
        return bad

    def check(self, res: dict) -> list[str]:
        return self.check_tiers(res["out"], [self.hist], self.hist_tokens, None)

    def detail(self, results) -> dict:
        """The issue's full-build numbers, from the medians of the phases."""
        build = median([r["build_s"] for r in results])
        pts = results[0]["build"]["summary"]["rolled_up_points"]
        return self._detail({
            "pipeline_points_per_s": (pts / build, "1/s"),
            "pipeline_tokens_per_s": (self.hist_tokens / build, "1/s"),
            "pack_tokens_per_s": (self.hist_tokens / median(
                [r["pack_s"] for r in results]), "1/s"),
            "build_s": (build, "s")})


class DailyRefresh(_Sequences):
    name = "daily_refresh"

    def __init__(self, ctx):
        super().__init__(ctx)
        self.config = incremental_config()
        self.history = os.path.join(ctx.work, "history")

    def set_up(self) -> None:
        """Builds the 7-day history every operation starts from."""
        from hastl_spark.plans.rollup_job import run_pipeline

        shutil.rmtree(self.history, ignore_errors=True)
        self.history_build = run_pipeline(self.ctx.spark, self.hist_df,
                                          self.history, **self.config)

    def check_setup(self) -> list[str]:
        bad = equal("history token-invariant violations",
                    self.history_build.get("token_invariant_violations"), 0)
        return bad + conservation(
            read_table(self.ctx.spark, self.history, "tier_1d").toPandas(),
            self.hist_tokens, "history tier_1d")

    def op(self, tracer, i: int) -> dict:
        from hastl_spark.plans.retention import run_retention
        from hastl_spark.plans.rollup_job import run_pipeline

        spark = self.ctx.spark
        out = os.path.join(self.ctx.work, f"tiers_{i}")
        shutil.rmtree(out, ignore_errors=True)
        shutil.copytree(self.history, out)
        res: dict = {"out": out}
        t = Timer()
        with tracer.span("rollup_job.refresh") as s:
            res["refresh"] = run_pipeline(spark, self.day_df, out, **self.config)
        res["refresh_s"] = s["wall_s"]
        with tracer.span("retention.run") as s:
            res["retention"] = run_retention(spark, out, RETENTION)
        res["retention_s"] = s["wall_s"]
        res["wall_s"] = t.s()
        return res

    def op_failures(self, res: dict) -> list[str]:
        """After every increment: no invariant violation, and tier_1d holds
        every token ingested so far."""
        bad = equal("refresh token-invariant violations",
                    res["refresh"].get("token_invariant_violations"), 0)
        return bad + conservation(
            read_table(self.ctx.spark, res["out"], "tier_1d").toPandas(),
            self.hist_tokens + self.day_tokens, "tier_1d after the refresh")

    def check(self, res: dict) -> list[str]:
        return self.check_tiers(res["out"], [self.hist, self.day],
                                self.hist_tokens + self.day_tokens, HISTORY_DAYS)

    def detail(self, results) -> dict:
        return self._detail({
            "refresh_p50_s": (median([r["wall_s"] for r in results]), "s"),
            "ingest_p50_s": (median([r["refresh_s"] for r in results]), "s"),
            "retention_p50_s": (median([r["retention_s"] for r in results]), "s")})


WORKLOADS = {"full_build": FullBuild, "daily_refresh": DailyRefresh}
