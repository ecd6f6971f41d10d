"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship rollup + STL-gapfill on sf0.001 events.
``queries()`` exposes one callable per implemented operator (SURVEY.md §2 +
the training-data breadth set); ``oracle_sql()`` gives the DuckDB-equivalent
ANSI SQL for every SQL-expressible one (value columns are rounded on BOTH
sides so double-accumulation-order drift cannot flip the value hash).
Non-SQL-expressible ops (STL decomposition / LOESS smoothing / trend
strength, and the xxhash64-based LSH candidate generators) are rows-only by
design; each has either a SQL-portable twin in the oracle set (MinHash /
SimHash / fingerprints via polynomial hashes, full-probe IVF, Gorilla
round-trip) or a kernel/recall test pinning it.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hastl_spark.operators.dedup import exact_dup_groups, ngram_jaccard_pairs
from hastl_spark.operators.densify import densify_grid
from hastl_spark.operators.gapfill import stl_gapfill
from hastl_spark.operators.rollup import rollup_tier
from hastl_spark.operators.similarity import brute_force_topk
from hastl_spark.operators.text import lang_guess, quality_score, with_text_stats

# ---------------------------------------------------------------- helpers


_SCAN_PAR_CACHE: dict[tuple[str, int], tuple[int, int]] = {}


def _scan_layout(spark: SparkSession, path: str) -> tuple[int, int]:
    """(effective scan tasks, total rows) of a parquet path. Spark assigns
    a row group to the byte split holding its midpoint, so the number of
    tasks that actually receive rows is min(byte splits, total row
    groups). The driver testdata ships each table as ONE file with ONE
    row group, which makes every scan stage a single task no matter the
    core count."""
    import os

    files = []
    if os.path.isdir(path):
        for root, _, names in os.walk(path):
            files += [os.path.join(root, n) for n in names
                      if n.endswith(".parquet")]
    elif os.path.isfile(path):
        files = [path]
    else:
        return (1 << 30, 0)  # non-local layout: assume healthy, change nothing
    try:
        import pyarrow.parquet as pq
        groups = rows = 0
        for f in files:
            md = pq.ParquetFile(f).metadata
            groups += md.num_row_groups
            rows += md.num_rows
    except Exception:
        groups, rows = len(files), 0
    # byte splits: Spark's own formula (maxSplitBytes = min(maxPartitionBytes,
    # max(openCostInBytes, totalBytes/defaultParallelism))). getsize guarded
    # like the footer reads: a file vanishing between os.walk and here (e.g.
    # a concurrent rewrite) must degrade to "assume healthy", not crash
    # query construction (review finding).
    try:
        total = sum(os.path.getsize(f) for f in files)
    except OSError:
        return (1 << 30, 0)
    par = spark.sparkContext.defaultParallelism
    max_split = min(128 << 20, max(4 << 20, total // max(par, 1)))
    splits = max(1, -(-total // max_split))
    return (min(splits, groups), rows)


def _read_par(spark: SparkSession, path: str) -> DataFrame:
    """Read parquet with a scan-parallelism floor (optimization guide §2.5
    "input skew": one huge unsplittable input -> repartition immediately
    after the read; §6 input split size). When the file layout cannot feed
    every core (single file / single row group), redistribute round-robin to
    defaultParallelism right after the read: the exchange carries only the
    pruned columns of a table that is by construction smaller than one row
    group per core, and every downstream explode/aggregate/window stage then
    uses the whole machine. At real (100 TB) scale the layout has far more
    row groups than cores, the condition is false, and the plan is untouched
    (no extra exchange) — scale-adaptive, not tuned to local[32].

    Filters and projections still push through the repartition to the scan
    (PushedFilters/ReadSchema verified in plans/r06/)."""
    df = spark.read.parquet(path)
    par = spark.sparkContext.defaultParallelism
    eff, _ = _scan_layout_cached(spark, path)
    if eff < par:
        df = df.repartition(par)
    return df


def _scan_layout_cached(spark: SparkSession, path: str) -> tuple[int, int]:
    key = (path, spark.sparkContext.defaultParallelism)
    v = _SCAN_PAR_CACHE.get(key)
    if v is None:
        v = _scan_layout(spark, path)
        _SCAN_PAR_CACHE[key] = v
    return v


# Sliced-scan thresholds (module constants so tests can exercise the
# sliced path on tiny fixtures): slice when a degenerate layout would
# push >= _SLICE_MIN_ROWS rows through one scan task; each slice handles
# ~_SLICE_TARGET_ROWS, capped at _SLICE_MAX slices (beyond that the
# n-fold re-decompress saturates memory bandwidth — measured: 8 slices
# beat 16 and 32 at 4M rows).
_SLICE_MIN_ROWS = 2_000_000
_SLICE_TARGET_ROWS = 500_000
_SLICE_MAX = 8


def _read_sliced(spark: SparkSession, path: str, id_col: str) -> DataFrame:
    """Read parquet; when the layout is degenerate (fewer effective scan
    tasks than cores) AND the serial scan would carry >= _SLICE_MIN_ROWS
    rows per task, return a UNION of n disjoint hash slices of the same
    file (`pmod(xxhash64(id), n) = i`). Each slice re-reads and
    re-decompresses the whole row group — n-fold IO — but the n scans run
    in parallel and, unlike a round-robin repartition, there is NO extra
    exchange, so map-side partial aggregation and the query's own key
    exchange keep their shape. A/B at 4M-row single-row-group events:
    counter 2.7->1.8s, sessions 2.1->1.4s, time_weighted 2.8->1.6s,
    ohlc 3.1->1.6s with 8 slices; a wash at 1M rows (threshold sits
    above it) and strictly never triggered on a healthy multi-row-group
    layout, where the plain scan already parallelizes (100-TB shape).
    Row partition is exact (xxhash64 is deterministic, slices are
    disjoint-exhaustive), so results are identical — pinned by test."""
    par = spark.sparkContext.defaultParallelism
    eff, rows = _scan_layout_cached(spark, path)
    if not (eff < par and rows and rows // eff >= _SLICE_MIN_ROWS):
        return spark.read.parquet(path)
    import functools

    n = int(min(_SLICE_MAX, max(2, rows // _SLICE_TARGET_ROWS)))
    parts = [
        spark.read.parquet(path).filter(
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(n)) == i)
        for i in range(n)
    ]
    return functools.reduce(lambda a, b: a.unionAll(b), parts)


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    # No parallelism floor here: event queries do trivial per-row work into
    # keyed aggregations/windows, so map-side partial agg in the scan task
    # beats paying a full-row exchange first (A/B at sf1.0: top_users
    # 0.31s -> 1.31s, lineitem_pricing 0.51s -> 1.05s with the floor ON;
    # re-confirmed at 4M rows — the floor loses at every size here).
    # The doc/embedding scans keep the floor because their per-row work is
    # amplified ~1000x by explodes/regex/matmul before anything shuffles.
    # _read_sliced instead guards the ESCALATED degenerate case (>= 2M
    # rows through one scan task): disjoint hash-slice re-reads with no
    # extra exchange — a no-op at every currently shipped sf.
    return _read_sliced(spark, f"{sf_dir}/events.parquet", "event_id")


def _scratch_index_dir(name: str, sf_dir: str) -> str:
    """Deterministic scratch dir for queries that persist an index table:
    one dir per (query, sf), WIPED on entry so repeated bench samples
    rebuild in place instead of leaking a fresh mkdtemp each run."""
    import hashlib
    import os
    import shutil
    import tempfile

    d = os.path.join(tempfile.gettempdir(), "hastl_q_idx",
                     f"{name}_{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d, exist_ok=True)
    return d


def _docs(spark: SparkSession, sf_dir: str, floor: bool = False) -> DataFrame:
    """``floor=True`` opts a query into the scan-parallelism floor. Opt-in,
    not blanket, per the sf1.0 A/B: queries whose per-row work is amplified
    ~1000x before any exchange (char/word-gram explodes, regex chains,
    per-gram hashing) win 2-14x; queries that go straight into a keyed
    window/aggregation/write (packing prefix sums, exact dedup's hash
    groupBy, the persisted-index builds) LOSE 0.3-2.2s because the floor's
    full-row exchange replaces their map-side combine / multiplies their
    index files."""
    p = f"{sf_dir}/documents.parquet"
    return _read_par(spark, p) if floor else spark.read.parquet(p)


def _embs(spark: SparkSession, sf_dir: str, floor: bool = False) -> DataFrame:
    p = f"{sf_dir}/embeddings.parquet"
    return _read_par(spark, p) if floor else spark.read.parquet(p)


def _rollup_events_1m(spark, sf_dir) -> DataFrame:
    """Salted two-phase (event_type, minute) rollup of events."""
    ev = _events(spark, sf_dir)
    salt = F.pmod(F.xxhash64("event_id"), F.lit(16)).alias("salt")
    partial = (
        ev.withColumn("bucket", F.date_trunc("minute", "ts"))
        .groupBy("event_type", "bucket", salt)
        .agg(F.count(F.lit(1)).alias("p_cnt"), F.sum("value").alias("p_sum"))
    )
    return partial.groupBy("event_type", "bucket").agg(
        F.sum("p_cnt").alias("cnt"), F.round(F.sum("p_sum"), 4).alias("sum_value")
    )


def _rollup_events_1h_raw(spark, sf_dir) -> DataFrame:
    """Unrounded hourly rollup (feeds STL / gorilla / densify)."""
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy("event_type", F.date_trunc("hour", "ts").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("value").alias("sum_value"))
    )


# ---------------------------------------------------------------- queries


def q_rollup_1m(spark, sf_dir):
    return _rollup_events_1m(spark, sf_dir)


def q_rollup_1h(spark, sf_dir):
    # composed from the 1m tier (tests tier composition vs the direct oracle)
    ev = _events(spark, sf_dir)
    m1 = (
        ev.groupBy("event_type", F.date_trunc("minute", "ts").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("value").alias("sum_value"))
    )
    h1 = rollup_tier(m1, "1h", sum_col="sum_value", key_col="event_type")
    return h1.select("event_type", "bucket", "cnt", F.round("sum_value", 4).alias("sum_value"))


def q_rollup_1d(spark, sf_dir):
    h1 = _rollup_events_1h_raw(spark, sf_dir)
    d1 = rollup_tier(h1, "1d", sum_col="sum_value", key_col="event_type")
    return d1.select("event_type", "bucket", "cnt", F.round("sum_value", 4).alias("sum_value"))


def q_densify_1h(spark, sf_dir):
    h1 = _rollup_events_1h_raw(spark, sf_dir)
    dense = densify_grid(h1, bucket_seconds=3600, key_col="event_type")
    return dense.select("event_type", "bucket", "cnt", F.round("sum_value", 4).alias("sum_value"))


def q_top_users(spark, sf_dir):
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 4).alias("total_value"))
        .orderBy(F.desc("total_value"), F.asc("user_id"))
        .limit(10)
    )


def q_dow_profile(spark, sf_dir):
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(F.dayofweek("ts").alias("dow"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"), F.round(F.avg("value"), 4).alias("avg_value"))
    )


def q_sessions(spark, sf_dir):
    """Sessionization: 30-min-gap session starts per user (operator:
    hastl_spark/operators/sessionize.py, single key exchange)."""
    from hastl_spark.operators.sessionize import session_counts

    ev = _events(spark, sf_dir)
    return session_counts(ev, gap_s=1800, ts_col="ts", key_cols="user_id",
                          tiebreak_cols="event_id")


def q_lineitem_pricing(spark, sf_dir):
    li = _read_sliced(spark, f"{sf_dir}/lineitem.parquet", "l_orderkey")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_revenue_by_nation(spark, sf_dir):
    cust = _read_sliced(spark, f"{sf_dir}/customer.parquet", "c_custkey")
    orders = _read_sliced(spark, f"{sf_dir}/orders.parquet", "o_orderkey")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")  # 25 rows
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


def q_docs_stats(spark, sf_dir):
    return with_text_stats(_docs(spark, sf_dir, floor=True)).select(
        "doc_id", "chars", "tokens_ws", "punct_cnt", "stopword_cnt", "mean_tok_len"
    )


def q_docs_quality(spark, sf_dir):
    return quality_score(_docs(spark, sf_dir, floor=True)).select("doc_id", "quality")


def q_docs_lang(spark, sf_dir):
    return lang_guess(_docs(spark, sf_dir, floor=True)).select("doc_id", "lang_guess")


def q_docs_tokens_bpe(spark, sf_dir):
    """BPE-ish regex token counts next to whitespace counts (training-data
    token accounting without a tokenizer dependency)."""
    from hastl_spark.operators.text import token_count, token_count_bpe

    d = _docs(spark, sf_dir, floor=True)
    return d.select(
        "doc_id",
        token_count(F.col("text")).alias("tokens_ws"),
        token_count_bpe(F.col("text")).alias("tokens_bpe"),
    )


def q_docs_scrubbed(spark, sf_dir):
    """URL/email masking + whitespace normalization (string output column,
    so the scrub is value-checked end to end)."""
    from hastl_spark.operators.text import scrub_text

    return scrub_text(_docs(spark, sf_dir, floor=True)).select("doc_id", "text_scrubbed")


def q_docs_exact_dedup(spark, sf_dir):
    return exact_dup_groups(_docs(spark, sf_dir))


def q_docs_jaccard_pairs(spark, sf_dir):
    docs = _docs(spark, sf_dir).filter("doc_id < 150")
    return ngram_jaccard_pairs(docs, n=3, threshold=0.5)


def q_dup_groups(spark, sf_dir):
    """Near-dup pairs resolved into connected-component groups (min-label
    propagation); every doc < 150 gets a group_id = min doc_id reachable
    through the Jaccard>=0.5 pair graph (singletons label themselves)."""
    from hastl_spark.operators.dedup import dup_group_labels

    docs = _docs(spark, sf_dir, floor=True).filter("doc_id < 150")
    pairs = ngram_jaccard_pairs(docs, n=3, threshold=0.5)
    return dup_group_labels(docs.select("doc_id"), pairs)


def q_embeddings_knn(spark, sf_dir):
    embs = _embs(spark, sf_dir, floor=True)
    return brute_force_topk(embs, embs.filter("vec_id < 8"), k=5).select(
        "query_id", "neighbor_id", "rank"
    )


def q_minhash_portable(spark, sf_dir):
    """MinHash signatures with SQL-portable permutations (value-checked,
    unlike the xxhash64-based LSH variant)."""
    from hastl_spark.operators.dedup import minhash_signatures_portable

    docs = _docs(spark, sf_dir, floor=True).filter("doc_id < 300")
    return minhash_signatures_portable(docs, n=5, k=16)


def q_embedding_near_dups(spark, sf_dir):
    """Exact embedding-cosine near-dup pairs on a bounded subset (the LSH
    variant is exercised rows-only via ann_topk)."""
    from hastl_spark.operators.dedup import embedding_near_dups

    embs = _embs(spark, sf_dir, floor=True).filter("vec_id < 400")
    return embedding_near_dups(embs, threshold=0.4, use_lsh=False)


def q_embeddings_quantized(spark, sf_dir):
    """Int8 embedding quantization (posexploded to scalar rows so scale and
    every quantized value are hash-checked against the SQL twin)."""
    from hastl_spark.operators.similarity import quantize_embeddings

    qt = quantize_embeddings(_embs(spark, sf_dir).filter("vec_id < 200"))
    return qt.select(
        "vec_id", F.round("scale", 6).alias("scale"),
        F.posexplode("qvec").alias("pos", "qv"),
    ).select("vec_id", "scale", "pos", F.col("qv").cast("int").alias("qv"))


def q_label_centroid_norm(spark, sf_dir):
    """Per-label mean-embedding norm — aggregate over array column via
    posexplode + regroup (array aggregation pattern)."""
    embs = _embs(spark, sf_dir)
    per_dim = (
        embs.select("label", F.posexplode("embedding").alias("pos", "v"))
        .groupBy("label", "pos")
        .agg(F.avg("v").alias("mean_v"))
    )
    return (
        per_dim.groupBy("label")
        .agg(F.round(F.sqrt(F.sum(F.col("mean_v") * F.col("mean_v"))), 4).alias("centroid_norm"))
    )


# ---- rows-only (non-SQL-expressible) ----


def q_stl_gapfill_1h(spark, sf_dir):
    h1 = _rollup_events_1h_raw(spark, sf_dir)
    gap = stl_gapfill(h1, value_col="cnt", bucket_seconds=3600, n_p=24, q_s=13,
                      d_s=0, key_col="event_type")
    return gap.select(
        "event_type", "bucket", "y",
        F.round("seasonal", 4).alias("seasonal"),
        F.round("trend", 4).alias("trend"),
        F.round("gapfilled", 4).alias("gapfilled"),
    )


def q_gapfill_diag(spark, sf_dir):
    """STL gap-fill DIAGNOSTICS, value-checked: per event_type, grid size,
    observed/missing bucket counts, longest missing run, and the STL-path
    invariants measured from the ACTUAL decomposition output — number of
    filled gaps (must equal n_missing when the series is long enough for a
    seasonal fit), reconstruction violations at observed points (must be
    0: gapfilled IS y there), and remainder-NaN mismatch (remainder is NaN
    exactly at gaps — stl.fut:378-381). The oracle computes the expected
    values from the raw events in pure SQL, so the driver value-checks the
    STL grid construction and output structure that the rows-only
    stl_gapfill_1h query cannot pin."""
    from hastl_spark.operators.gapfill import stl_gapfill

    h1 = _rollup_events_1h_raw(spark, sf_dir)
    gap = stl_gapfill(h1, value_col="cnt", bucket_seconds=3600, n_p=24,
                      q_s=13, d_s=0, key_col="event_type")
    # Arrow maps a NaN in a nullable float column to NULL on the way out of
    # applyInPandas — a grid hole surfaces as y IS NULL; accept either form
    def _absent(c):
        return F.col(c).isNull() | F.isnan(c)

    g = gap.select("event_type", "bucket", "y", "gapfilled", "remainder",
                   _absent("y").alias("miss"))
    base = g.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_grid"),
        F.sum(F.when(~F.col("miss"), 1).otherwise(0)).alias("n_observed"),
        F.sum(F.when(F.col("miss"), 1).otherwise(0)).alias("n_missing"),
        F.sum(F.when(F.col("miss") & ~_absent("gapfilled"), 1)
              .otherwise(0)).alias("n_filled"),
        F.sum(F.when(~F.col("miss") & (F.col("gapfilled") != F.col("y")), 1)
              .otherwise(0)).alias("reconstruct_violations"),
        (F.sum(F.when(_absent("remainder"), 1).otherwise(0))
         - F.sum(F.when(F.col("miss"), 1).otherwise(0))
         ).alias("remainder_nan_mismatch"),
    )
    # longest missing run: gaps-and-islands over the hourly grid
    w = Window.partitionBy("event_type").orderBy("bucket")
    runs = (g.filter("miss")
            .withColumn("_grp", F.expr("unix_timestamp(bucket) div 3600")
                        - F.row_number().over(w))
            .groupBy("event_type", "_grp")
            .agg(F.count(F.lit(1)).alias("run_len"))
            .groupBy("event_type")
            .agg(F.max("run_len").alias("_lg")))
    return (base.join(runs, "event_type", "left")
            .select("event_type", "n_grid", "n_observed", "n_missing",
                    "n_filled",
                    F.coalesce("_lg", F.lit(0)).cast("long")
                    .alias("longest_gap"),
                    "reconstruct_violations", "remainder_nan_mismatch"))


def q_gorilla_roundtrip_1h(spark, sf_dir):
    """Gorilla codec identity: encode the hourly tier into chunks, decode the
    chunks back to points — value-checked against the plain hourly-rollup SQL
    (so delta-of-delta + XOR-float encode/decode is bit-exact end to end)."""
    from hastl_spark.operators.chunks import decode_chunks_df, gorilla_chunks

    h1 = _rollup_events_1h_raw(spark, sf_dir).withColumnRenamed("event_type", "source")
    ch = gorilla_chunks(h1, "sum_value")
    pts = decode_chunks_df(ch)
    return pts.select(
        "source",
        F.timestamp_seconds("ts").alias("bucket"),
        F.round("value", 4).alias("sum_value"),
    )


def q_minhash_pairs(spark, sf_dir):
    """Banded MinHash LSH pairs, SQL-portable end to end (permutations AND
    band folds) — the whole candidate-join plan is value-checked. The
    xxhash64 variant (same plan shape, faster hash) is pinned by
    tests/test_breadth.py recall tests."""
    from hastl_spark.operators.dedup import minhash_lsh_pairs_portable

    docs = _docs(spark, sf_dir).filter("doc_id < 300")
    return minhash_lsh_pairs_portable(docs, n=5, k=16, bands=4, threshold=0.35)


def q_minhash_incremental(spark, sf_dir):
    """Incremental dedup against a PERSISTED MinHash index: docs < 200 are
    ingested into a band-partitioned KeyedTable, then docs [200, 300) are
    probed against it — pairs touching a new doc, exactly the batch LSH
    result restricted to new pairs (operators/dedup_index.py). The probe
    reads only index buckets the new batch touches."""
    from hastl_spark.operators.dedup_index import MinHashIndex

    # deterministic per-sf scratch path, wiped at query start: a mkdtemp
    # per invocation leaked one on-disk index per bench sample (review
    # finding); the wipe happens BEFORE this call's build, so the returned
    # lazy plan only ever reads its own snapshot
    idx = MinHashIndex(_scratch_index_dir("mh_idx", sf_dir), n=5, k=16,
                       bands=4)
    docs = _docs(spark, sf_dir)
    idx.build(spark, docs.filter("doc_id < 200"))
    pairs, _ = idx.dedup_incremental(
        spark, docs.filter("doc_id >= 200 AND doc_id < 300"), threshold=0.35)
    return pairs


def q_simhash_portable(spark, sf_dir):
    """SimHash with SQL-portable per-bit hashes (value-checked; the faster
    xxhash64 variant is exercised by tests + simhash_near_pairs)."""
    from hastl_spark.operators.dedup import simhash_portable

    return simhash_portable(_docs(spark, sf_dir, floor=True).filter("doc_id < 300"))


def q_fingerprints_portable(spark, sf_dir):
    """Winnowing fingerprint with a SQL-portable rolling hash (value-checked
    twin of rolling_fingerprint). Served by the Arrow-batched numpy pass —
    same values as the Catalyst explode shape (pinned by test), ~3x faster."""
    from hastl_spark.operators.text import fingerprint_portable_np

    return fingerprint_portable_np(_docs(spark, sf_dir, floor=True))


def q_value_stats(spark, sf_dir):
    """Moment statistics per event_type (TimescaleDB stats_agg twin):
    power-sum formulation so Spark and DuckDB evaluate ONE formula —
    their built-in skewness/kurtosis disagree on bias correction."""
    from hastl_spark.operators.stats import stats_agg

    return stats_agg(_events(spark, sf_dir), ["event_type"], "value")


def q_docs_rarity(spark, sf_dir):
    """Per-doc mean corpus token frequency (unigram rarity quality signal).
    Integer sums + one final double division -> cross-engine bit-identical
    (the tf x linear-idf precedent)."""
    from hastl_spark.operators.text import token_rarity

    return token_rarity(_docs(spark, sf_dir, floor=True))


def q_corpus_prep(spark, sf_dir):
    """END-TO-END training-corpus preparation composed as ONE Catalyst
    plan: quality filter (composite heuristic >= 0.8) -> exact dedup (min
    doc_id survives per identical text; the exchange carries 16-byte hash
    keys, not bodies) -> benchmark decontamination (16-gram overlap vs the
    doc_id % 97 == 0 subset, broadcast — the corpus never shuffles) ->
    concat-and-chunk packing of the survivors (distributed prefix sum).
    The DuckDB oracle composes the same stages in SQL, so the whole
    pipeline — filters, survivorship, pack arithmetic — is value-checked
    as a unit, not just stage by stage."""
    from hastl_spark.operators.dedup import (contamination_flags,
                                             exact_dup_groups)
    from hastl_spark.operators.packing import pack_sequences
    from hastl_spark.operators.text import quality_score

    docs = _docs(spark, sf_dir, floor=True)
    q = quality_score(docs).filter(F.col("quality") >= 0.8)
    keep = exact_dup_groups(q).select(F.col("keep_id").alias("doc_id"))
    surv = q.join(keep, "doc_id")
    flags = contamination_flags(surv, docs.filter("doc_id % 97 = 0"), n=16)
    clean = surv.join(
        flags.filter(~F.col("contaminated")).select("doc_id"), "doc_id")
    # lazy localCheckpoint: `clean` sits downstream of the whole
    # quality -> dedup -> decontaminate chain and is referenced TWICE
    # (packing input + the final join) — without the checkpoint the full
    # chain re-evaluates per reference (guide §3.3: materialize a reused
    # intermediate to truncate the plan). Materializes inside the query's
    # own first action, blocks die with the frame — no cross-run state.
    # A/B sf1.0: 4.7s -> 3.8s min.
    clean = clean.localCheckpoint(eager=False)
    packed = pack_sequences(clean, _PACK_BUDGET)
    return (clean.select("doc_id", "quality").join(packed, "doc_id")
            .select("doc_id", "source", "quality",
                    "pack_id", "pack_offset", "packs_spanned"))


def q_contamination(spark, sf_dir):
    """Benchmark decontamination: distinct 16-gram overlap counts of every
    doc against a deterministic ~1% benchmark subset (doc_id % 97 == 0),
    broadcast-semi-join plan — the corpus never shuffles."""
    from hastl_spark.operators.dedup import contamination_flags

    docs = _docs(spark, sf_dir, floor=True)
    return contamination_flags(docs, docs.filter("doc_id % 97 = 0"), n=16)


_PACK_BUDGET = 2048
_MIX_RATES = {f"src{i}": ((i % 4) + 1) / 4 for i in range(64)}


def q_pack_assignments(spark, sf_dir):
    """Concat-and-chunk training-sequence packing: per source, docs ordered
    by id form one stream chunked into 2048-char packs; each doc gets its
    pack id, offset and span. Distributed prefix-sum, value-checked against
    a naive single-window SQL twin."""
    from hastl_spark.operators.packing import pack_sequences

    return pack_sequences(_docs(spark, sf_dir), _PACK_BUDGET)


def q_packs_summary(spark, sf_dir):
    """Per-pack occupancy (docs touching the pack, exact unit contribution
    of boundary docs) — the fill-ratio audit of q_pack_assignments."""
    from hastl_spark.operators.packing import pack_summary

    return pack_summary(_docs(spark, sf_dir), _PACK_BUDGET)


_TOK_BUDGET = 256
# deterministic synthetic token arrays over the documents table (the driver
# testdata has no token-array column): tokens = [doc_id%50 .. doc_id%50 +
# n_chars%23], expressible identically in Spark and DuckDB
_TOK_EXPR = "sequence(doc_id % 50, doc_id % 50 + (n_chars % 23))"


def q_pack_tokens(spark, sf_dir):
    """PHYSICAL packing: budget-length token arrays assembled from each
    doc's overlap with the pack window (slice -> one-shuffle -> ordered
    flatten). The assembled array is value-checked through exact scalar
    digests (the driver's comparator cannot sort array columns — same
    convention as minhash's h0..h15): length, token sum, and a
    POSITION-weighted sum, which any ordering or boundary mistake shifts."""
    from hastl_spark.operators.packing import pack_tokens

    d = _docs(spark, sf_dir).select(
        "doc_id", "source",
        F.expr(_TOK_EXPR).alias("tokens"),
        F.expr("(n_chars % 23) + 1").cast("long").alias("n_tok"))
    p = pack_tokens(d, _TOK_BUDGET)
    return p.select(
        "source", "pack_id",
        F.size("tokens").cast("long").alias("n_tokens"),
        F.expr("aggregate(tokens, 0L, (a, x) -> a + x)").alias("tok_sum"),
        F.expr("aggregate(transform(tokens, (x, i) -> x * (i + 1)),"
               " 0L, (a, y) -> a + y)").alias("tok_possum"))


def q_mixture_sample(spark, sf_dir):
    """Deterministic training-mixture sampling: per-source keep rates via
    portable LCG arithmetic on doc_id (pure filter, rows byte-identical)."""
    from hastl_spark.operators.packing import mixture_sample

    return mixture_sample(_docs(spark, sf_dir), _MIX_RATES,
                          default_rate=0.5).select("doc_id", "source", "n_chars")


def q_ann_topk(spark, sf_dir):
    """LSH ANN top-k with SQL-portable integer sign bits (pure Catalyst) —
    value-checks the band-collision -> exact-re-rank -> top-k plan. The
    pandas-UDF BLAS variant (ann_topk) stays the throughput path, pinned by
    tests/test_breadth.py recall tests."""
    from hastl_spark.operators.similarity import ann_topk_portable

    embs = _embs(spark, sf_dir)
    return ann_topk_portable(embs, embs.filter("vec_id < 8"), dim=64, k=5,
                             n_bits=16, bands=4)


def q_ivf_topk_full(spark, sf_dir):
    """IVF ANN at full probe (n_probe == n_lists): exercises the whole IVF
    machinery (train, assign, cell join, re-rank) while being provably equal
    to exact kNN — so it shares the brute-force oracle. The approximate
    n_probe<n_lists path is covered by tests/test_ivf.py recall checks."""
    from hastl_spark.operators.ivf import ivf_topk, train_centroids

    # no floor: the query is a chain of jobs (TakeOrdered sample collect,
    # then the cell-join plan) and each one would re-pay the repartition
    # exchange — A/B: sf0.1 0.99s -> 1.62s floored, and the sf1.0 gain is
    # smaller than that loss
    embs = _embs(spark, sf_dir)
    C = train_centroids(embs, dim=64, n_lists=16)
    return ivf_topk(embs, embs.filter("vec_id < 8"), C, k=5, n_probe=16).select(
        "query_id", "neighbor_id", "rank"
    )


def q_ivf_incremental(spark, sf_dir):
    """IVF index MAINTENANCE path: build a persisted cell-partitioned index
    on vec_id < 300, incrementally assign [300, 500) with the stored
    centroids (no retrain), then search the PERSISTED table at full probe —
    provably equal to exact kNN over the union, so it shares the
    brute-force oracle (operators/ivf_store.py)."""
    from hastl_spark.operators.ivf_store import IVFStore

    embs = _embs(spark, sf_dir).filter("vec_id < 500")
    store = IVFStore(_scratch_index_dir("ivf_idx", sf_dir))
    store.build(spark, embs.filter("vec_id < 300"), dim=64, n_lists=16)
    store.add(spark, embs.filter("vec_id >= 300"))
    return store.topk(spark, embs.filter("vec_id < 8"), k=5,
                      n_probe=16).select("query_id", "neighbor_id", "rank")


def q_media_features(spark, sf_dir):
    """Multimodal feature extraction (mapInPandas over binary payloads) —
    posexploded to scalar rows so every column is sortable/hashable, and
    value-checked: the deterministic fake decoder (chunked byte means) is
    reproducible in ANSI SQL."""
    from hastl_spark.operators.multimodal import extract_features, synthetic_media

    # use_real=False: the oracle reproduces the deterministic fake decoder;
    # an environment with PIL installed must not silently change the values
    feats = extract_features(synthetic_media(spark, 128), dim=8, use_real=False)
    return feats.select(
        "media_id", "kind", "n_bytes", F.posexplode("feat").alias("pos", "feat_v")
    ).withColumn("feat_v", F.round(F.col("feat_v").cast("double"), 4))


def q_media_real_decode(spark, sf_dir):
    """REAL media decode, value-checked: actual PNG (zlib inflate + all
    five un-filter branches, gray + gray+alpha) and actual WAV (RIFF/PCM-16)
    payloads are synthesized from closed-form pixel/sample patterns inside
    one Arrow stage, decoded by the pure-stdlib codecs in a second Arrow
    stage, and reduced to exact integer luma/sample statistics the oracle
    recomputes analytically in SQL — so a single flipped bit anywhere in
    deflate/filter/struct handling breaks the hash."""
    from hastl_spark.operators.multimodal import (real_decode_stats,
                                                  synthetic_real_media)

    return real_decode_stats(synthetic_real_media(spark, 48, 48))


def q_loess_smooth_1h(spark, sf_dir):
    """Standalone LOESS smoothing of the hourly value series (reference
    LOESS.fit twin, loess.fut:768-811)."""
    from hastl_spark.operators.densify import densify_grid
    from hastl_spark.operators.loess import loess_smooth

    h1 = _rollup_events_1h_raw(spark, sf_dir)
    dense = densify_grid(h1, bucket_seconds=3600, key_col="event_type")
    series = dense.select("event_type", "bucket", F.col("sum_value").alias("y"))
    sm = loess_smooth(series, q=25, degree=1, jump=1,
                      key_col="event_type", order_col="bucket")
    return sm.select("event_type", "bucket", F.round("y", 4).alias("y"),
                     F.round("smoothed", 4).alias("smoothed"))


def q_trend_strength(spark, sf_dir):
    """Per-event_type trend magnitude + seasonal amplitude of the hourly
    count series (reference entries stl.fut:481-500), via the
    trend_strength operator over the gap-fill output."""
    from hastl_spark.operators.trend import trend_strength

    gap = q_stl_gapfill_1h(spark, sf_dir)
    return trend_strength(gap, key_col="event_type", order_col="bucket")


def q_asof_enrich(spark, sf_dir):
    """As-of join: each event gets the rollup of the most recent fully
    COMPLETED hour for its event_type (union-merge window plan — one
    shuffle, no theta-join; DuckDB reproduces it with a native ASOF JOIN)."""
    from hastl_spark.operators.asof import asof_join

    ev = _events(spark, sf_dir).select("event_id", "event_type", "ts")
    r = (
        _events(spark, sf_dir)
        .groupBy("event_type",
                 (F.date_trunc("hour", "ts") + F.expr("INTERVAL 1 HOUR")).alias("bucket_end"))
        .agg(F.count(F.lit(1)).alias("prev_cnt"))
    )
    out = asof_join(ev, r, by="event_type", left_on="ts", right_on="bucket_end",
                    direction="backward")
    return out.select("event_id", "event_type", "ts", "prev_cnt",
                      F.col("matched_bucket_end"))


def q_asof_enrich_bucketed(spark, sf_dir):
    """Skew-safe variant of asof_enrich: same semantics through the
    (key, time-bucket) window + carry-row plan (one hot key no longer
    pins one task — measured 5.2x on a 306M-row skewed source). Shares
    asof_enrich's oracle, so the driver gate value-checks the
    equivalence."""
    from hastl_spark.operators.asof import asof_join_bucketed

    ev = _events(spark, sf_dir).select("event_id", "event_type", "ts")
    r = (
        _events(spark, sf_dir)
        .groupBy("event_type",
                 (F.date_trunc("hour", "ts") + F.expr("INTERVAL 1 HOUR")).alias("bucket_end"))
        .agg(F.count(F.lit(1)).alias("prev_cnt"))
    )
    out = asof_join_bucketed(ev, r, by="event_type", left_on="ts",
                             right_on="bucket_end", bucket_seconds=86400,
                             direction="backward")
    return out.select("event_id", "event_type", "ts", "prev_cnt",
                      F.col("matched_bucket_end"))


def q_range_busy(spark, sf_dir):
    """Range (interval-containment) join via the bucket-explode plan:
    events counted against each event_type's 3 busiest hours widened to
    [-30min, +90min) windows. The interval side is tiny, so the exploded
    bucket table broadcasts and events never shuffle for the join."""
    from hastl_spark.operators.rangejoin import range_join

    h1 = _rollup_events_1h_raw(spark, sf_dir)
    rk = F.row_number().over(
        Window.partitionBy("event_type").orderBy(F.desc("cnt"), F.asc("bucket")))
    top = (
        h1.withColumn("rk", rk).filter(F.col("rk") <= 3)
        .select("event_type",
                (F.col("bucket") - F.expr("INTERVAL 30 MINUTES")).alias("iv_start"),
                (F.col("bucket") + F.expr("INTERVAL 90 MINUTES")).alias("iv_end"))
    )
    ev = _events(spark, sf_dir).select("event_type", "ts", "value")
    joined = range_join(ev, top, on="ts", start_col="iv_start",
                        end_col="iv_end", by="event_type",
                        bucket_seconds=3600, broadcast=True)
    return joined.groupBy("event_type", "iv_start").agg(
        F.count(F.lit(1)).alias("n_in"),
        F.round(F.sum("value"), 4).alias("sum_value"))


def q_kmv_users(spark, sf_dir):
    """KMV bottom-k distinct-user sketch per event_type — unlike HLL, the
    fixed portable hash makes the sketch itself value-checkable (the
    DuckDB oracle reproduces n_seen/h_k/est bit-for-bit)."""
    from hastl_spark.operators.sketch import kmv_distinct

    ev = _events(spark, sf_dir).select("event_type", "user_id")
    return kmv_distinct(ev, group_col="event_type", value_col="user_id",
                        k=256)


def q_time_weighted(spark, sf_dir):
    """TimescaleDB time_weight('LOCF'): per (event_type, day) time-weighted
    mean of the raw event values over irregular timestamps. event_id
    tiebreaks equal timestamps so the value is deterministic and the
    oracle reproduces it bit-for-bit."""
    from hastl_spark.operators.timeweight import time_weighted_avg

    ev = _events(spark, sf_dir).withColumn("day", F.date_trunc("day", "ts"))
    return time_weighted_avg(ev, key_cols=["event_type", "day"],
                             ts_col="ts", value_col="value",
                             tiebreak_col="event_id")


def q_value_quantiles(spark, sf_dir):
    """Exact interpolated quantiles per event_type (Spark `percentile` and
    DuckDB `quantile_cont` share the (n-1)*p linear-interpolation rule)."""
    ev = _events(spark, sf_dir)
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 4).alias("p90"),
        F.round(F.expr("percentile(value, 0.99)"), 4).alias("p99"),
    )


def q_ohlc_1h(spark, sf_dir):
    """Classic OHLC (candlestick) bucket rollup: per (event_type, hour),
    first/max/min/last value. Open/close ride Spark's orderable-struct
    min/max (single aggregation pass, no window); event_id tiebreaks so
    the oracle's row_number formulation reproduces them exactly."""
    ev = _events(spark, sf_dir)
    key = F.struct("ts", "event_id", "value")
    return (
        ev.groupBy("event_type", F.date_trunc("hour", "ts").alias("bucket"))
        .agg(
            F.round(F.min(key).getField("value"), 4).alias("open"),
            F.round(F.max("value"), 4).alias("high"),
            F.round(F.min("value"), 4).alias("low"),
            F.round(F.max(key).getField("value"), 4).alias("close"),
            F.count(F.lit(1)).alias("n"),
        )
    )


def _dense_1h_rounded(spark, sf_dir):
    h1 = _rollup_events_1h_raw(spark, sf_dir)
    dense = densify_grid(h1, bucket_seconds=3600, key_col="event_type")
    return dense.select("event_type", "bucket", "cnt",
                        F.round("sum_value", 4).alias("sum_value"))


def q_gapfill_locf_1h(spark, sf_dir):
    """TimescaleDB-style locf() over the densified hourly grid (relational
    twin of the STL gap-fill; leading nulls stay null)."""
    from hastl_spark.operators.interpolate import locf

    dense = _dense_1h_rounded(spark, sf_dir)
    return locf(dense, ["cnt", "sum_value"], key_col="event_type",
                order_col="bucket")


def q_gapfill_linear_1h(spark, sf_dir):
    """TimescaleDB-style interpolate(): linear across interior gaps of the
    hourly sum_value series; edges stay null."""
    from hastl_spark.operators.interpolate import linear_interpolate

    dense = _dense_1h_rounded(spark, sf_dir)
    out = linear_interpolate(dense, ["sum_value"], key_col="event_type",
                             order_col="bucket")
    return out.select("event_type", "bucket", "cnt",
                      F.round("sum_value", 4).alias("sum_value"))


def q_anomalies_1h(spark, sf_dir):
    """Distribution-free anomaly flags on the hourly count series:
    |0.6745*(x-median)/MAD| > 3 per event_type (exact medians — the same
    interpolated-median semantics as DuckDB, so fully oracle-checkable)."""
    from hastl_spark.operators.anomaly import robust_zscore_anomalies

    h1 = _rollup_events_1h_raw(spark, sf_dir).select("event_type", "bucket", "cnt")
    out = robust_zscore_anomalies(h1, value_col="cnt", key_col="event_type",
                                  threshold=3.0)
    return out.select("event_type", "bucket", "cnt",
                      F.round("med", 6).alias("med"),
                      F.round("mad", 6).alias("mad"),
                      F.round("z", 6).alias("z"))


def q_downsample_ltob(spark, sf_dir):
    """Largest-Triangle-One-Bucket decimation of the hourly count series to
    48 points per event_type (SQL-portable twin of the exact LTTB operator,
    which is pinned by tests/test_timeseries_ops.py)."""
    from hastl_spark.operators.downsample import ltob

    h1 = _rollup_events_1h_raw(spark, sf_dir).select("event_type", "bucket", "cnt")
    return ltob(h1, 48, key_col="event_type", order_col="bucket",
                value_col="cnt")


def q_counter_rate_1h(spark, sf_dir):
    """TimescaleDB counter_agg twin: reset-aware counter delta + per-second
    rate per (event_type, hour); event_id tiebreaks equal timestamps so the
    pairwise lag steps are deterministic."""
    from hastl_spark.operators.counter import counter_agg

    ev = _events(spark, sf_dir).withColumn(
        "bucket", F.date_trunc("hour", "ts"))
    return counter_agg(ev, ["event_type", "bucket"], ts_col="ts",
                       value_col="value", tiebreak_col="event_id")


def q_histogram_day(spark, sf_dir):
    """Fixed-bin value histogram per (event_type, day): 10 bins over
    [0, 500) with edge clamping — pure two-phase codegen agg."""
    from hastl_spark.operators.histogram import value_histogram

    ev = _events(spark, sf_dir).withColumn("day", F.date_trunc("day", "ts"))
    return value_histogram(ev, ["event_type", "day"], "value",
                           lo=0.0, hi=500.0, n_bins=10)


def q_funnel(spark, sf_dir):
    """view -> click -> purchase funnel per user: earliest strictly-
    increasing timestamp chain; all three stages resolve in ONE exchange
    (stacked Window aggregates over the same user partitioning)."""
    from hastl_spark.operators.funnel import funnel_stages

    return funnel_stages(_events(spark, sf_dir),
                         ["view", "click", "purchase"])


def q_ewma_1h(spark, sf_dir):
    """Windowed EWMA (alpha=0.2, trailing 12h) of the hourly count series —
    the sequential fold runs INSIDE Catalyst (array collect + aggregate
    lambda), so it is bit-identical at any parallelism and to DuckDB's
    list_reduce."""
    from hastl_spark.operators.smooth import ewma

    h1 = _rollup_events_1h_raw(spark, sf_dir).select(
        "event_type", "bucket", "cnt")
    return ewma(h1, alpha=0.2, window=12, key_col="event_type",
                order_col="bucket", value_col="cnt")


def q_docs_repetition(spark, sf_dir):
    """Gopher-style intra-doc repetition: fraction of word 3-grams that
    repeat an earlier 3-gram. Served by the Arrow-batched numpy pass —
    same values as the Catalyst array-expression shape (pinned by test),
    3.2x faster; the ratio itself is still computed by Catalyst round()."""
    from hastl_spark.operators.text import repetition_ratio_np

    return repetition_ratio_np(_docs(spark, sf_dir, floor=True), n=3)


def q_tfidf_top3(spark, sf_dir):
    """Top-3 characteristic terms per doc by tf x linear idf
    (score = tf*N/df — exact integer ratio, cross-engine bit-identical)."""
    from hastl_spark.operators.text import tf_top_terms

    return tf_top_terms(_docs(spark, sf_dir, floor=True), k=3)


def q_vocab_top50(spark, sf_dir):
    """Corpus-wide top-50 word bigrams (vocabulary census); orderBy+limit
    compiles to per-partition top-k, never a full sort."""
    from hastl_spark.operators.text import vocab_topk

    return vocab_topk(_docs(spark, sf_dir, floor=True), k=50, n=2)


def q_state_durations(spark, sf_dir):
    """TimescaleDB state_agg twin: per user, time spent in each event_type
    'state' (a state holds until the user's next event; the last event
    closes the timeline). One window exchange reused by the final agg."""
    from hastl_spark.operators.state import state_durations

    return state_durations(_events(spark, sf_dir), key_col="user_id",
                           ts_col="ts", state_col="event_type",
                           tiebreak_col="event_id")


def q_heartbeat_uptime(spark, sf_dir):
    """TimescaleDB heartbeat_agg twin: treating each user's events as
    liveness heartbeats with a 1h window, the measure of the union of
    [ts, ts+1h] intervals plus the island count (gap > 1h splits)."""
    from hastl_spark.operators.state import heartbeat_uptime

    return heartbeat_uptime(_events(spark, sf_dir), key_col="user_id",
                            ts_col="ts", window_seconds=3600.0)


def q_docs_split(spark, sf_dir):
    """Deterministic 90/5/5 train/valid/test split by the portable KMV
    hash of doc_id — stable across runs, engines, cluster sizes."""
    from hastl_spark.operators.text import deterministic_split

    return deterministic_split(_docs(spark, sf_dir), train=0.9, valid=0.05)


# ---------------------------------------------------------------- contract


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: hourly rollup + STL gap-fill on sf0.001 events."""
    return q_stl_gapfill_1h(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Dict ORDER is the driver's correctness-window rotation (see
    COVERAGE.md "Correctness-window rotation policy"): the driver checks
    the first 50 entries, so the 12 oracle queries that have never
    received a driver CORRECTNESS row run FIRST, once-verified round-5
    queries stay inside the window, the 12 most-verified veterans (green
    in r03+r04+r05) rotate past it this round, and the 3 rows-only
    kernel queries (which can never earn a hash row) sit last."""
    return {
        # -- never driver-verified oracle queries (r5 additions +
        #    downsample_ltob, which silently fell out of the r5 window) --
        "counter_rate_1h": q_counter_rate_1h,
        "histogram_day": q_histogram_day,
        "funnel": q_funnel,
        "ewma_1h": q_ewma_1h,
        "docs_repetition": q_docs_repetition,
        "tfidf_top3": q_tfidf_top3,
        "vocab_top50": q_vocab_top50,
        "docs_split": q_docs_split,
        "state_durations": q_state_durations,
        "heartbeat_uptime": q_heartbeat_uptime,
        "gapfill_diag": q_gapfill_diag,  # HAS an oracle (r5 mislabeled it)
        "downsample_ltob": q_downsample_ltob,
        # -- veterans, newest vintage first --
        "sessions": q_sessions,
        "docs_tokens_bpe": q_docs_tokens_bpe,
        "docs_scrubbed": q_docs_scrubbed,
        "docs_jaccard_pairs": q_docs_jaccard_pairs,
        "dup_groups": q_dup_groups,
        "minhash_portable": q_minhash_portable,
        "embeddings_knn": q_embeddings_knn,
        "embedding_near_dups": q_embedding_near_dups,
        "embeddings_quantized": q_embeddings_quantized,
        "label_centroid_norm": q_label_centroid_norm,
        "gorilla_roundtrip_1h": q_gorilla_roundtrip_1h,
        "simhash_portable": q_simhash_portable,
        "fingerprints_portable": q_fingerprints_portable,
        "ivf_topk_full": q_ivf_topk_full,
        "ivf_incremental": q_ivf_incremental,
        "media_features": q_media_features,
        "media_real_decode": q_media_real_decode,
        "minhash_pairs": q_minhash_pairs,
        "minhash_incremental": q_minhash_incremental,
        "ann_topk": q_ann_topk,
        "contamination": q_contamination,
        "corpus_prep": q_corpus_prep,
        "docs_rarity": q_docs_rarity,
        "value_stats": q_value_stats,
        "pack_assignments": q_pack_assignments,
        "packs_summary": q_packs_summary,
        "pack_tokens": q_pack_tokens,
        "mixture_sample": q_mixture_sample,
        "asof_enrich": q_asof_enrich,
        "asof_enrich_bucketed": q_asof_enrich_bucketed,
        "range_busy": q_range_busy,
        "kmv_users": q_kmv_users,
        "time_weighted": q_time_weighted,
        "value_quantiles": q_value_quantiles,
        "ohlc_1h": q_ohlc_1h,
        "gapfill_locf_1h": q_gapfill_locf_1h,
        "gapfill_linear_1h": q_gapfill_linear_1h,
        "anomalies_1h": q_anomalies_1h,
        # -- past the 50-row window this round: the most-verified veterans
        #    (driver-green in rounds 3, 4 AND 5; still oracle-gated locally
        #    by tests/test_entry_contract.py every run) --
        "rollup_1m": q_rollup_1m,
        "rollup_1h": q_rollup_1h,
        "rollup_1d": q_rollup_1d,
        "densify_1h": q_densify_1h,
        "top_users": q_top_users,
        "dow_profile": q_dow_profile,
        "lineitem_pricing": q_lineitem_pricing,
        "revenue_by_nation": q_revenue_by_nation,
        "docs_stats": q_docs_stats,
        "docs_quality": q_docs_quality,
        "docs_lang": q_docs_lang,
        "docs_exact_dedup": q_docs_exact_dedup,
        # rows-only (no SQL equivalent: the STL/LOESS numeric kernels)
        "stl_gapfill_1h": q_stl_gapfill_1h,
        "loess_smooth_1h": q_loess_smooth_1h,
        "trend_strength": q_trend_strength,
    }


_PUNCT_SQL = " + ".join(
    f"(length(text) - length(replace(text, '{p}', '')))" for p in ".,!?;:"
)
_STOP_SQL = " + ".join(
    f"(length(text) - length(replace(text, ' {w} ', ''))) / {len(w) + 2}"
    for w in ["the", "and", "of", "to", "in"]
)


def oracle_sql() -> dict[str, str]:
    from hastl_spark.operators.stats import stats_agg_oracle_sql

    d = {
        "rollup_1m": """
            SELECT event_type, date_trunc('minute', ts) AS bucket,
                   count(*) AS cnt, round(sum(value), 4) AS sum_value
            FROM events GROUP BY 1, 2
        """,
        "rollup_1h": """
            SELECT event_type, date_trunc('hour', ts) AS bucket,
                   count(*) AS cnt, round(sum(value), 4) AS sum_value
            FROM events GROUP BY 1, 2
        """,
        "rollup_1d": """
            SELECT event_type, date_trunc('day', ts) AS bucket,
                   count(*) AS cnt, round(sum(value), 4) AS sum_value
            FROM events GROUP BY 1, 2
        """,
        "densify_1h": """
            WITH r AS (
              SELECT event_type, date_trunc('hour', ts) AS bucket,
                     count(*) AS cnt, round(sum(value), 4) AS sum_value
              FROM events GROUP BY 1, 2
            ), bounds AS (
              SELECT event_type, min(bucket) b_min, max(bucket) b_max FROM r GROUP BY 1
            ), grid AS (
              SELECT event_type,
                     unnest(generate_series(b_min, b_max, INTERVAL 1 HOUR)) AS bucket
              FROM bounds
            )
            SELECT g.event_type, g.bucket, r.cnt, r.sum_value
            FROM grid g LEFT JOIN r ON g.event_type = r.event_type AND g.bucket = r.bucket
        """,
        "top_users": """
            SELECT user_id, count(*) AS n_events, round(sum(value), 4) AS total_value
            FROM events GROUP BY 1
            ORDER BY total_value DESC, user_id ASC LIMIT 10
        """,
        "dow_profile": """
            SELECT CAST(extract(dow FROM ts) + 1 AS INT) AS dow, event_type,
                   count(*) AS cnt, round(avg(value), 4) AS avg_value
            FROM events GROUP BY 1, 2
        """,
        "sessions": """
            WITH g AS (
              SELECT user_id,
                     CASE WHEN lag(ts) OVER w IS NULL
                               OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                          THEN 1 ELSE 0 END AS is_start
              FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            )
            SELECT user_id, CAST(sum(is_start) AS BIGINT) AS n_sessions,
                   count(*) AS n_events
            FROM g GROUP BY 1
        """,
        "lineitem_pricing": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 4) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   round(avg(l_quantity), 4) AS avg_qty,
                   count(*) AS count_order
            FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY 1, 2
        """,
        "revenue_by_nation": """
            SELECT n_name, count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue
            FROM orders JOIN customer ON o_custkey = c_custkey
                        JOIN nation ON c_nationkey = n_nationkey
            GROUP BY 1
        """,
        "docs_stats": f"""
            SELECT doc_id, length(text) AS chars,
                   len(string_split(text, ' ')) AS tokens_ws,
                   CAST({_PUNCT_SQL} AS BIGINT) AS punct_cnt,
                   CAST({_STOP_SQL} AS BIGINT) AS stopword_cnt,
                   round((length(text) - len(string_split(text, ' ')) + 1)
                         / len(string_split(text, ' ')), 6) AS mean_tok_len
            FROM documents
        """,
        "docs_quality": f"""
            WITH s AS (
              SELECT doc_id, length(text) AS chars,
                     CAST({_STOP_SQL} AS BIGINT) AS stop_cnt,
                     round(({_PUNCT_SQL}) / length(text), 6) AS punct_ratio
              FROM documents
            )
            SELECT doc_id, round((
              (CASE WHEN chars BETWEEN 64 AND 4096 THEN 1.0 ELSE 0.3 END) +
              (CASE WHEN stop_cnt >= 1 THEN 1.0 ELSE 0.5 END) +
              (CASE WHEN punct_ratio <= 0.1 THEN 1.0 ELSE 0.6 END)) / 3.0, 6) AS quality
            FROM s
        """,
        "docs_lang": f"""
            SELECT doc_id,
                   CASE WHEN CAST({_STOP_SQL} AS BIGINT)
                             / greatest(len(string_split(text, ' ')), 1) >= 0.02
                        THEN 'en' ELSE 'other' END AS lang_guess
            FROM documents
        """,
        "docs_tokens_bpe": """
            SELECT doc_id,
                   len(string_split(text, ' ')) AS tokens_ws,
                   CAST(len(regexp_extract_all(text,
                        '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+| +'
                        )) AS INT) AS tokens_bpe
            FROM documents
        """,
        "docs_scrubbed": """
            SELECT doc_id, trim(regexp_replace(regexp_replace(regexp_replace(
                       text,
                       'https?://[^ ]+', '<URL>', 'g'),
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}',
                       '<EMAIL>', 'g'),
                       '  +', ' ', 'g')) AS text_scrubbed
            FROM documents
        """,
        "docs_exact_dedup": """
            SELECT min(doc_id) AS keep_id, count(*) AS dup_cnt
            FROM documents GROUP BY text
        """,
        "docs_jaccard_pairs": """
            WITH grams AS (
              SELECT DISTINCT doc_id, substr(text, g, 3) AS ngram
              FROM documents, unnest(range(1, greatest(length(text) - 2, 1) + 1)) AS u(g)
              WHERE doc_id < 150 AND length(substr(text, g, 3)) = 3
            ), sizes AS (
              SELECT doc_id, count(*) AS sz FROM grams GROUP BY 1
            ), inter AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
              FROM grams a JOIN grams b ON a.ngram = b.ngram AND a.doc_id < b.doc_id
              GROUP BY 1, 2
            )
            SELECT id_a, id_b,
                   round(i / (sa.sz + sb.sz - i), 6) AS jaccard
            FROM inter JOIN sizes sa ON sa.doc_id = id_a
                       JOIN sizes sb ON sb.doc_id = id_b
            WHERE i / (sa.sz + sb.sz - i) >= 0.5
        """,
        # connected components of the Jaccard pair graph via recursive CTE:
        # reach(node, lbl) accumulates every origin id that can reach node,
        # so min(lbl) per node == min id of its component
        "dup_groups": """
            WITH RECURSIVE grams AS (
              SELECT DISTINCT doc_id, substr(text, g, 3) AS ngram
              FROM documents, unnest(range(1, greatest(length(text) - 2, 1) + 1)) AS u(g)
              WHERE doc_id < 150 AND length(substr(text, g, 3)) = 3
            ), sizes AS (
              SELECT doc_id, count(*) AS sz FROM grams GROUP BY 1
            ), inter AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
              FROM grams a JOIN grams b ON a.ngram = b.ngram AND a.doc_id < b.doc_id
              GROUP BY 1, 2
            ), pairs AS (
              SELECT id_a, id_b FROM inter
              JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
              WHERE i / (sa.sz + sb.sz - i) >= 0.5
            ), edges AS (
              SELECT id_a AS src, id_b AS dst FROM pairs
              UNION SELECT id_b, id_a FROM pairs
            ), reach(node, lbl) AS (
              SELECT doc_id, doc_id FROM documents WHERE doc_id < 150
              UNION
              SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
            )
            SELECT node AS doc_id, min(lbl) AS group_id
            FROM reach GROUP BY 1
        """,
        "embeddings_knn": """
            WITH q AS (SELECT vec_id AS query_id, embedding AS qvec
                       FROM embeddings WHERE vec_id < 8),
            scored AS (
              SELECT q.query_id, e.vec_id AS neighbor_id,
                     list_cosine_similarity(q.qvec, e.embedding) AS cosine
              FROM embeddings e, q WHERE e.vec_id <> q.query_id
            )
            SELECT query_id, neighbor_id,
                   CAST(row_number() OVER (PARTITION BY query_id
                        ORDER BY cosine DESC, neighbor_id ASC) AS INT) AS rank
            FROM scored QUALIFY rank <= 5
        """,
        "minhash_portable": __import__("hastl_spark.operators.dedup",
                                       fromlist=["minhash_portable_oracle_sql"]
                                       ).minhash_portable_oracle_sql(n=5, k=16, max_doc=300),
        "minhash_pairs": __import__("hastl_spark.operators.dedup",
                                    fromlist=["minhash_pairs_portable_oracle_sql"]
                                    ).minhash_pairs_portable_oracle_sql(
                                        n=5, k=16, bands=4, threshold=0.35,
                                        max_doc=300),
        "minhash_incremental": __import__(
            "hastl_spark.operators.dedup_index",
            fromlist=["minhash_incremental_oracle_sql"]
        ).minhash_incremental_oracle_sql(
            n=5, k=16, bands=4, threshold=0.35, old_max=200, new_max=300),
        "ann_topk": __import__("hastl_spark.operators.similarity",
                               fromlist=["ann_topk_portable_oracle_sql"]
                               ).ann_topk_portable_oracle_sql(
                                   dim=64, k=5, n_bits=16, bands=4,
                                   max_query=8),
        "embedding_near_dups": """
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_cosine_similarity(a.embedding, b.embedding), 4) AS cosine
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE a.vec_id < 400 AND b.vec_id < 400
              AND list_cosine_similarity(a.embedding, b.embedding) >= 0.4
        """,
        "embeddings_quantized": """
            WITH s AS (
              SELECT vec_id, embedding,
                     list_max(list_transform(embedding, x -> abs(x))) / 127.0
                       AS scale
              FROM embeddings WHERE vec_id < 200
            )
            SELECT vec_id, round(scale, 6) AS scale,
                   CAST(g.pos - 1 AS INT) AS pos,
                   CAST(CASE WHEN scale > 0
                             THEN floor(embedding[g.pos] / scale + 0.5)
                             ELSE 0 END AS INT) AS qv
            FROM s, unnest(generate_series(1, len(embedding))) g(pos)
        """,
        "label_centroid_norm": """
            WITH per_dim AS (
              SELECT label, g.pos, avg(embedding[g.pos]) AS mean_v
              FROM embeddings, unnest(generate_series(1, len(embedding))) AS g(pos)
              GROUP BY 1, 2
            )
            SELECT label, round(sqrt(sum(mean_v * mean_v)), 4) AS centroid_norm
            FROM per_dim GROUP BY 1
        """,
        # gorilla encode->decode must reproduce the hourly tier exactly
        # the STL invariants (fills == holes, zero reconstruction
        # violations at observed points, remainder NaN exactly at holes)
        # stated in SQL over the raw events — the Spark side MEASURES them
        # from the actual decomposition output
        "gapfill_diag": """
            WITH r AS (
              SELECT event_type, date_trunc('hour', ts) AS bucket
              FROM events GROUP BY 1, 2
            ), d AS (
              SELECT event_type,
                     CAST(epoch(bucket) AS BIGINT) // 3600 AS hr,
                     lag(CAST(epoch(bucket) AS BIGINT) // 3600)
                       OVER (PARTITION BY event_type ORDER BY bucket) AS prev_hr
              FROM r
            )
            SELECT event_type,
                   CAST(max(hr) - min(hr) + 1 AS BIGINT) AS n_grid,
                   CAST(count(*) AS BIGINT) AS n_observed,
                   CAST(max(hr) - min(hr) + 1 - count(*) AS BIGINT) AS n_missing,
                   CAST(max(hr) - min(hr) + 1 - count(*) AS BIGINT) AS n_filled,
                   CAST(coalesce(max(hr - prev_hr - 1), 0) AS BIGINT) AS longest_gap,
                   CAST(0 AS BIGINT) AS reconstruct_violations,
                   CAST(0 AS BIGINT) AS remainder_nan_mismatch
            FROM d GROUP BY event_type
        """,
        "gorilla_roundtrip_1h": """
            SELECT event_type AS source, date_trunc('hour', ts) AS bucket,
                   round(sum(value), 4) AS sum_value
            FROM events GROUP BY 1, 2
        """,
        "simhash_portable": __import__("hastl_spark.operators.dedup",
                                       fromlist=["simhash_portable_oracle_sql"]
                                       ).simhash_portable_oracle_sql(n=4, bits=32,
                                                                     max_doc=300),
        "fingerprints_portable": __import__("hastl_spark.operators.text",
                                            fromlist=["fingerprint_portable_oracle_sql"]
                                            ).fingerprint_portable_oracle_sql(window=8),
        # IVF at n_probe == n_lists is provably exact kNN -> same oracle shape
        # as embeddings_knn
        "ivf_topk_full": """
            WITH q AS (SELECT vec_id AS query_id, embedding AS qvec
                       FROM embeddings WHERE vec_id < 8),
            scored AS (
              SELECT q.query_id, e.vec_id AS neighbor_id,
                     list_cosine_similarity(q.qvec, e.embedding) AS cosine
              FROM embeddings e, q WHERE e.vec_id <> q.query_id
            )
            SELECT query_id, neighbor_id,
                   CAST(row_number() OVER (PARTITION BY query_id
                        ORDER BY cosine DESC, neighbor_id ASC) AS INT) AS rank
            FROM scored QUALIFY rank <= 5
        """,
        # incremental build (300 base + 200 added) at full probe == exact
        # kNN over the 500-vector union -> brute-force oracle
        "ivf_incremental": """
            WITH c AS (SELECT * FROM embeddings WHERE vec_id < 500),
            q AS (SELECT vec_id AS query_id, embedding AS qvec
                  FROM c WHERE vec_id < 8),
            scored AS (
              SELECT q.query_id, e.vec_id AS neighbor_id,
                     list_cosine_similarity(q.qvec, e.embedding) AS cosine
              FROM c e, q WHERE e.vec_id <> q.query_id
            )
            SELECT query_id, neighbor_id,
                   CAST(row_number() OVER (PARTITION BY query_id
                        ORDER BY cosine DESC, neighbor_id ASC) AS INT) AS rank
            FROM scored QUALIFY rank <= 5
        """,
        # deterministic fake decoder: feat[pos] = mean of the pos-th of 8
        # np.array_split chunks of the payload bytes; payload is
        # 'payload-' || repeat(id, 50) (pure ASCII, so bytes == ascii codes).
        # CAST(.. AS REAL) reproduces the float32 truncation of array<float>.
        "media_features": """
            WITH m AS (
              SELECT i AS id,
                     'm' || lpad(CAST(i AS VARCHAR), 6, '0') AS media_id,
                     CASE CAST(i % 3 AS INT) WHEN 0 THEN 'image'
                          WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
                     'payload-' || repeat(CAST(i AS VARCHAR), 50) AS s
              FROM range(0, 128) t(i)
            ), b AS (
              SELECT media_id, kind, s, length(s) AS L FROM m
            ), ch AS (
              SELECT media_id, kind, s, L, CAST(p.pos AS INT) AS pos,
                     (L // 8) + CASE WHEN p.pos < (L % 8) THEN 1 ELSE 0 END AS cnt,
                     p.pos * (L // 8) + least(p.pos, L % 8) AS strt
              FROM b, unnest(generate_series(0, 7)) p(pos)
            ), v AS (
              SELECT media_id, kind, L, pos,
                     avg(ascii(substr(s, CAST(strt + q.j AS INT), 1))) AS mean_v
              FROM ch, unnest(generate_series(1, CAST(cnt AS INT))) q(j)
              GROUP BY 1, 2, 3, 4
            )
            SELECT media_id, kind, CAST(L AS BIGINT) AS n_bytes, pos,
                   round(CAST(CAST(mean_v AS REAL) AS DOUBLE), 4) AS feat_v
            FROM v
        """,
        # closed-form twin of the REAL-decode query: the Spark side encodes
        # then decodes actual PNG/WAV payloads (synthetic_real_media /
        # real_decode_stats); pixel (a*y+b*x+c)%256 and sample
        # ((k*step+11*c+i2)%4001)-2000 patterns make every decoded statistic
        # an exact integer this SQL recomputes without touching any codec.
        "media_real_decode": """
            WITH ids AS (SELECT unnest(generate_series(0, 95)) AS i),
            imgs AS (
              SELECT i, 12 + (i % 5) AS h, 16 + (i % 7) AS w,
                     CAST(1 + (i % 2) AS INT) AS ch,
                     3 + (i % 7) AS a, 5 + (i % 11) AS b, i % 251 AS c
              FROM ids WHERE i < 48
            ), px AS (
              SELECT i, h, w, ch, ((a * p.y + b * q.x + c) % 256) AS v
              FROM imgs,
                   unnest(generate_series(0, CAST(h - 1 AS INT))) p(y),
                   unnest(generate_series(0, CAST(w - 1 AS INT))) q(x)
            ), img_stats AS (
              SELECT 'm' || lpad(CAST(i AS VARCHAR), 6, '0') AS media_id,
                     'image' AS kind, CAST(h AS INT) AS h, CAST(w AS INT) AS w,
                     ch, CAST(h * w AS INT) AS n_samples,
                     CAST(SUM(v) AS DOUBLE) AS stat_sum,
                     CAST(MIN(v) AS DOUBLE) AS stat_min,
                     CAST(MAX(v) AS DOUBLE) AS stat_max
              FROM px GROUP BY i, h, w, ch
            ), auds AS (
              SELECT i, i - 48 AS i2, CAST(1 + ((i - 48) % 2) AS INT) AS nch,
                     200 + ((i - 48) % 50) AS nsamp,
                     7 + ((i - 48) % 13) AS step
              FROM ids WHERE i >= 48
            ), sm AS (
              SELECT i, nch, nsamp,
                     (((p.k * step + 11 * q.c + i2) % 4001) - 2000) AS v
              FROM auds,
                   unnest(generate_series(0, CAST(nsamp - 1 AS INT))) p(k),
                   unnest(generate_series(0, CAST(nch - 1 AS INT))) q(c)
            ), aud_stats AS (
              SELECT 'm' || lpad(CAST(i AS VARCHAR), 6, '0') AS media_id,
                     'audio' AS kind, 0 AS h, 0 AS w, nch AS ch,
                     CAST(nsamp * nch AS INT) AS n_samples,
                     CAST(SUM(v) AS DOUBLE) AS stat_sum,
                     CAST(MIN(v) AS DOUBLE) AS stat_min,
                     CAST(MAX(v) AS DOUBLE) AS stat_max
              FROM sm GROUP BY i, nch, nsamp
            )
            SELECT * FROM img_stats UNION ALL SELECT * FROM aud_stats
        """,
        "contamination": """
            WITH bench AS (
              SELECT DISTINCT substr(text, g, 16) AS ngram
              FROM documents,
                   unnest(range(1, greatest(length(text) - 15, 1) + 1)) AS u(g)
              WHERE doc_id % 97 = 0 AND length(substr(text, g, 16)) = 16
            ), dg AS (
              SELECT DISTINCT doc_id, substr(text, g, 16) AS ngram
              FROM documents,
                   unnest(range(1, greatest(length(text) - 15, 1) + 1)) AS u(g)
              WHERE length(substr(text, g, 16)) = 16
            ), h AS (
              SELECT doc_id, count(*) AS n_hits
              FROM dg JOIN bench USING (ngram) GROUP BY 1
            )
            SELECT d.doc_id,
                   CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
                   COALESCE(h.n_hits, 0) > 0 AS contaminated
            FROM documents d LEFT JOIN h USING (doc_id)
        """,
        "value_stats": stats_agg_oracle_sql("events", ["event_type"],
                                            "value"),
        # integer tf/cf sums; ONE double division at the end (bit-identical
        # cross-engine; an ln-based logprob would not be)
        "docs_rarity": """
            WITH w AS (
              SELECT doc_id, u.term FROM documents,
                     unnest(string_split(text, ' ')) AS u(term)
              WHERE u.term <> ''
            ), tf AS (
              SELECT doc_id, term, count(*) AS tf FROM w GROUP BY 1, 2
            ), cf AS (
              SELECT term, CAST(sum(tf) AS BIGINT) AS cf FROM tf GROUP BY 1
            ), tot AS (
              SELECT CAST(sum(cf) AS DOUBLE) AS total FROM cf
            ), per_doc AS (
              SELECT doc_id, CAST(sum(tf.tf) AS BIGINT) AS n_tokens,
                     CAST(sum(tf.tf * cf.cf) AS BIGINT) AS cf_sum
              FROM tf JOIN cf USING (term) GROUP BY 1
            )
            SELECT doc_id, n_tokens, cf_sum,
                   cf_sum / (n_tokens * (SELECT total FROM tot)) AS rarity
            FROM per_doc
        """,
        # the corpus-prep pipeline composed in SQL: quality >= 0.8 ->
        # min-id per identical text -> drop 16-gram benchmark overlap ->
        # windowed-cumsum packing (BIGINT casts per the HUGEINT discipline)
        "corpus_prep": f"""
            WITH s AS (
              SELECT doc_id, source, n_chars, text, length(text) AS chars,
                     CAST({_STOP_SQL} AS BIGINT) AS stop_cnt,
                     round(({_PUNCT_SQL}) / length(text), 6) AS punct_ratio
              FROM documents
            ), q AS (
              SELECT doc_id, source, n_chars, text, round((
                (CASE WHEN chars BETWEEN 64 AND 4096 THEN 1.0 ELSE 0.3 END) +
                (CASE WHEN stop_cnt >= 1 THEN 1.0 ELSE 0.5 END) +
                (CASE WHEN punct_ratio <= 0.1 THEN 1.0 ELSE 0.6 END)) / 3.0,
                6) AS quality
              FROM s
            ), qf AS (
              SELECT * FROM q WHERE quality >= 0.8
            ), keep AS (
              SELECT min(doc_id) AS doc_id FROM qf GROUP BY text
            ), surv AS (
              SELECT qf.* FROM qf JOIN keep USING (doc_id)
            ), bench AS (
              SELECT DISTINCT substr(text, g, 16) AS ngram
              FROM documents,
                   unnest(range(1, greatest(length(text) - 15, 1) + 1)) AS u(g)
              WHERE doc_id % 97 = 0 AND length(substr(text, g, 16)) = 16
            ), dg AS (
              SELECT DISTINCT doc_id, substr(text, g, 16) AS ngram
              FROM surv,
                   unnest(range(1, greatest(length(text) - 15, 1) + 1)) AS u(g)
              WHERE length(substr(text, g, 16)) = 16
            ), dirty AS (
              SELECT DISTINCT doc_id FROM dg JOIN bench USING (ngram)
            ), clean AS (
              SELECT * FROM surv
              WHERE doc_id NOT IN (SELECT doc_id FROM dirty)
            ), c AS (
              SELECT doc_id, source, quality, n_chars,
                     sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id)
                         AS cum
              FROM clean
            )
            SELECT doc_id, source, quality,
                   CAST((cum - n_chars) // {_PACK_BUDGET} AS BIGINT) AS pack_id,
                   CAST((cum - n_chars) % {_PACK_BUDGET} AS BIGINT)
                       AS pack_offset,
                   CAST((cum - 1) // {_PACK_BUDGET}
                        - (cum - n_chars) // {_PACK_BUDGET} + 1 AS INT)
                       AS packs_spanned
            FROM c
        """,
        "pack_assignments": f"""
            WITH c AS (
              SELECT doc_id, source, n_chars,
                     sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id) AS cum
              FROM documents
            )
            SELECT doc_id, source,
                   CAST((cum - n_chars) // {_PACK_BUDGET} AS BIGINT) AS pack_id,
                   CAST((cum - n_chars) % {_PACK_BUDGET} AS BIGINT)
                       AS pack_offset,
                   CAST((cum - 1) // {_PACK_BUDGET}
                        - (cum - n_chars) // {_PACK_BUDGET} + 1 AS INT)
                       AS packs_spanned
            FROM c
        """,
        "packs_summary": f"""
            WITH c AS (
              SELECT doc_id, source, n_chars,
                     sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id) AS cum
              FROM documents
            ), a AS (
              SELECT doc_id, source, cum - n_chars AS s, cum AS e,
                     (cum - n_chars) // {_PACK_BUDGET} AS p0,
                     (cum - 1) // {_PACK_BUDGET} AS p1
              FROM c
            ), x AS (
              SELECT source, doc_id, s, e, p0 + u.g AS pack_id
              FROM a, unnest(range(0, CAST(p1 - p0 + 1 AS BIGINT))) AS u(g)
            )
            SELECT source, CAST(pack_id AS BIGINT) AS pack_id,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(least(e, (pack_id + 1) * {_PACK_BUDGET})
                            - greatest(s, pack_id * {_PACK_BUDGET})) AS BIGINT)
                       AS n_units
            FROM x GROUP BY 1, 2
        """,
        "pack_tokens": f"""
            WITH t AS (
              SELECT doc_id, source,
                     range(doc_id % 50, doc_id % 50 + (n_chars % 23) + 1)
                         AS tokens,
                     (n_chars % 23) + 1 AS n_tok
              FROM documents
            ), c AS (
              SELECT *, sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id)
                            AS cum
              FROM t
            ), a AS (
              SELECT source, tokens, cum - n_tok AS s, cum AS e,
                     (cum - n_tok) // {_TOK_BUDGET} AS p0,
                     (cum - 1) // {_TOK_BUDGET} AS p1
              FROM c
            ), x AS (
              SELECT source, p0 + u.g AS pack_id, s, e, tokens
              FROM a, unnest(range(0, CAST(p1 - p0 + 1 AS BIGINT))) AS u(g)
            ), p AS (
              SELECT source, pack_id,
                     greatest(s, pack_id * {_TOK_BUDGET})
                         - pack_id * {_TOK_BUDGET} AS pos,
                     tokens[CAST(greatest(s, pack_id * {_TOK_BUDGET}) - s + 1
                                 AS BIGINT)
                            :CAST(least(e, (pack_id + 1) * {_TOK_BUDGET}) - s
                                  AS BIGINT)] AS piece
              FROM x
            )
            SELECT source, CAST(pack_id AS BIGINT) AS pack_id,
                   CAST(len(tokens) AS BIGINT) AS n_tokens,
                   CAST(list_sum(tokens) AS BIGINT) AS tok_sum,
                   CAST(list_sum(list_transform(tokens, (x, i) -> x * i))
                        AS BIGINT) AS tok_possum
            FROM (
              SELECT source, pack_id,
                     flatten(array_agg(piece ORDER BY pos)) AS tokens
              FROM p GROUP BY 1, 2
            )
        """,
        "mixture_sample": (
            "SELECT doc_id, source, n_chars FROM documents WHERE "
            + __import__("hastl_spark.operators.packing",
                         fromlist=["mixture_sample_where_sql"]
                         ).mixture_sample_where_sql(_MIX_RATES,
                                                    default_rate=0.5)
        ),
        "asof_enrich": """
            WITH r AS (
              SELECT event_type,
                     date_trunc('hour', ts) + INTERVAL 1 HOUR AS bucket_end,
                     count(*) AS prev_cnt
              FROM events GROUP BY 1, 2
            )
            SELECT e.event_id, e.event_type, e.ts, r.prev_cnt,
                   r.bucket_end AS matched_bucket_end
            FROM events e ASOF LEFT JOIN r
              ON e.event_type = r.event_type AND e.ts >= r.bucket_end
        """,
        "gapfill_locf_1h": """
            WITH r AS (
              SELECT event_type, date_trunc('hour', ts) AS bucket,
                     count(*) AS cnt, round(sum(value), 4) AS sum_value
              FROM events GROUP BY 1, 2
            ), bounds AS (
              SELECT event_type, min(bucket) b_min, max(bucket) b_max FROM r GROUP BY 1
            ), grid AS (
              SELECT event_type,
                     unnest(generate_series(b_min, b_max, INTERVAL 1 HOUR)) AS bucket
              FROM bounds
            ), d AS (
              SELECT g.event_type, g.bucket, r.cnt, r.sum_value
              FROM grid g LEFT JOIN r ON g.event_type = r.event_type AND g.bucket = r.bucket
            )
            SELECT event_type, bucket,
                   last_value(cnt IGNORE NULLS) OVER w AS cnt,
                   last_value(sum_value IGNORE NULLS) OVER w AS sum_value
            FROM d WINDOW w AS (
              PARTITION BY event_type ORDER BY bucket
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        """,
        "gapfill_linear_1h": """
            WITH r AS (
              SELECT event_type, date_trunc('hour', ts) AS bucket,
                     count(*) AS cnt, round(sum(value), 4) AS sum_value
              FROM events GROUP BY 1, 2
            ), bounds AS (
              SELECT event_type, min(bucket) b_min, max(bucket) b_max FROM r GROUP BY 1
            ), grid AS (
              SELECT event_type,
                     unnest(generate_series(b_min, b_max, INTERVAL 1 HOUR)) AS bucket
              FROM bounds
            ), d AS (
              SELECT g.event_type, g.bucket, r.cnt, r.sum_value
              FROM grid g LEFT JOIN r ON g.event_type = r.event_type AND g.bucket = r.bucket
            ), win AS (
              SELECT event_type, bucket, cnt, sum_value,
                     CAST(epoch(bucket) AS DOUBLE) AS t,
                     last_value(sum_value IGNORE NULLS) OVER wb AS pv,
                     last_value(CASE WHEN sum_value IS NOT NULL
                                     THEN CAST(epoch(bucket) AS DOUBLE) END
                                IGNORE NULLS) OVER wb AS pt,
                     first_value(sum_value IGNORE NULLS) OVER wf AS nv,
                     first_value(CASE WHEN sum_value IS NOT NULL
                                      THEN CAST(epoch(bucket) AS DOUBLE) END
                                 IGNORE NULLS) OVER wf AS nt
              FROM d WINDOW
                wb AS (PARTITION BY event_type ORDER BY bucket
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                wf AS (PARTITION BY event_type ORDER BY bucket
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
            )
            SELECT event_type, bucket, cnt,
                   round(CASE WHEN sum_value IS NOT NULL THEN sum_value
                              WHEN pv IS NOT NULL AND nv IS NOT NULL
                              THEN pv + (nv - pv) * (t - pt) / (nt - pt)
                         END, 4) AS sum_value
            FROM win
        """,
        "anomalies_1h": """
            WITH r AS (
              SELECT event_type, date_trunc('hour', ts) AS bucket, count(*) AS cnt
              FROM events GROUP BY 1, 2
            ), m AS (
              SELECT event_type, median(CAST(cnt AS DOUBLE)) AS med FROM r GROUP BY 1
            ), d AS (
              SELECT r.event_type,
                     median(abs(CAST(r.cnt AS DOUBLE) - m.med)) AS mad,
                     min(m.med) AS med
              FROM r JOIN m USING (event_type) GROUP BY 1
            )
            SELECT r.event_type, r.bucket, r.cnt,
                   round(d.med, 6) AS med, round(d.mad, 6) AS mad,
                   round(0.6745 * (CAST(r.cnt AS DOUBLE) - d.med) / d.mad, 6) AS z
            FROM r JOIN d USING (event_type)
            WHERE d.mad > 0
              AND abs(0.6745 * (CAST(r.cnt AS DOUBLE) - d.med) / d.mad) > 3.0
        """,
        "downsample_ltob": """
            WITH r AS (
              SELECT event_type, date_trunc('hour', ts) AS bucket, count(*) AS cnt
              FROM events GROUP BY 1, 2
            ), s AS (
              SELECT event_type, bucket, cnt,
                     row_number() OVER w - 1 AS i,
                     count(*) OVER (PARTITION BY event_type) AS n,
                     CAST(epoch(bucket) AS DOUBLE) AS x,
                     CAST(cnt AS DOUBLE) AS y,
                     lag(CAST(epoch(bucket) AS DOUBLE)) OVER w AS x0,
                     lag(CAST(cnt AS DOUBLE)) OVER w AS y0,
                     lead(CAST(epoch(bucket) AS DOUBLE)) OVER w AS x2,
                     lead(CAST(cnt AS DOUBLE)) OVER w AS y2
              FROM r WINDOW w AS (PARTITION BY event_type ORDER BY bucket)
            ), a AS (
              SELECT event_type, bucket, cnt,
                     CAST(floor(i * 48 / n) AS BIGINT) AS slot,
                     CASE WHEN i = 0 OR i = n - 1 THEN CAST('infinity' AS DOUBLE)
                          ELSE abs((x0 - x2) * (y - y2) - (x - x2) * (y0 - y2))
                     END AS area
              FROM s
            )
            SELECT event_type, bucket, cnt FROM (
              SELECT event_type, bucket, cnt,
                     row_number() OVER (PARTITION BY event_type, slot
                                        ORDER BY area DESC, bucket) AS rk
              FROM a
            ) WHERE rk = 1
        """,
    }
    # same oracle: the bucketed plan must be row-identical to the plain one
    d["asof_enrich_bucketed"] = d["asof_enrich"]

    d["range_busy"] = """
        WITH r AS (
          SELECT event_type, date_trunc('hour', ts) AS bucket, count(*) AS cnt
          FROM events GROUP BY 1, 2
        ), t AS (
          SELECT event_type,
                 bucket - INTERVAL 30 MINUTE AS iv_start,
                 bucket + INTERVAL 90 MINUTE AS iv_end
          FROM (SELECT event_type, bucket, cnt,
                       row_number() OVER (PARTITION BY event_type
                                          ORDER BY cnt DESC, bucket) AS rk
                FROM r) WHERE rk <= 3
        )
        SELECT e.event_type, t.iv_start, count(*) AS n_in,
               round(sum(e.value), 4) AS sum_value
        FROM events e JOIN t
          ON e.event_type = t.event_type
         AND e.ts >= t.iv_start AND e.ts < t.iv_end
        GROUP BY 1, 2
    """

    d["time_weighted"] = """
        WITH s AS (
          SELECT event_type, date_trunc('day', ts) AS day, value,
                 CAST(epoch(ts) AS DOUBLE) AS t,
                 lead(CAST(epoch(ts) AS DOUBLE)) OVER (
                   PARTITION BY event_type, date_trunc('day', ts)
                   ORDER BY ts, event_id) AS nt
          FROM events
        )
        SELECT event_type, day, max(t) - min(t) AS span_s,
               round(sum(value * coalesce(nt - t, 0)) / (max(t) - min(t)), 4) AS twa
        FROM s GROUP BY 1, 2 HAVING max(t) - min(t) > 0
    """

    d["value_quantiles"] = """
        SELECT event_type,
               round(quantile_cont(value, 0.5), 4) AS p50,
               round(quantile_cont(value, 0.9), 4) AS p90,
               round(quantile_cont(value, 0.99), 4) AS p99
        FROM events GROUP BY 1
    """

    d["ohlc_1h"] = """
        WITH s AS (
          SELECT event_type, date_trunc('hour', ts) AS bucket, value,
                 row_number() OVER wa AS rn_a, row_number() OVER wd AS rn_d
          FROM events WINDOW
            wa AS (PARTITION BY event_type, date_trunc('hour', ts)
                   ORDER BY ts, event_id),
            wd AS (PARTITION BY event_type, date_trunc('hour', ts)
                   ORDER BY ts DESC, event_id DESC)
        )
        SELECT event_type, bucket,
               round(max(CASE WHEN rn_a = 1 THEN value END), 4) AS open,
               round(max(value), 4) AS high,
               round(min(value), 4) AS low,
               round(max(CASE WHEN rn_d = 1 THEN value END), 4) AS close,
               count(*) AS n
        FROM s GROUP BY 1, 2
    """

    from hastl_spark.operators.sketch import KMV_P, kmv_hash_sql
    d["kmv_users"] = f"""
        WITH h AS (
          SELECT DISTINCT event_type, {kmv_hash_sql('user_id')} AS h
          FROM events
        ), b AS (
          SELECT event_type, h,
                 row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk
          FROM h
        )
        SELECT event_type, count(*) AS n_seen, max(h) AS h_k,
               round(CASE WHEN count(*) < 256 THEN CAST(count(*) AS DOUBLE)
                          ELSE 255.0 * {KMV_P} / max(h) END, 4) AS est
        FROM b WHERE rk <= 256 GROUP BY 1
    """
    d["counter_rate_1h"] = """
        WITH s AS (
          SELECT event_type, date_trunc('hour', ts) AS bucket, ts, value,
                 lag(value) OVER (
                   PARTITION BY event_type, date_trunc('hour', ts)
                   ORDER BY ts, event_id) AS prev
          FROM events
        ), st AS (
          SELECT event_type, bucket, ts, value,
                 CASE WHEN prev IS NULL THEN 0.0
                      WHEN value >= prev THEN value - prev
                      ELSE value END AS step,
                 CASE WHEN prev IS NOT NULL AND value < prev
                      THEN 1 ELSE 0 END AS reset
          FROM s
        ), a AS (
          SELECT event_type, bucket, count(*) AS n,
                 CAST(sum(reset) AS BIGINT) AS num_resets,
                 round(sum(step), 4) AS delta,
                 (epoch_us(max(ts)) - epoch_us(min(ts))) / 1000000.0 AS span
          FROM st GROUP BY 1, 2
        )
        SELECT event_type, bucket, n, num_resets, delta,
               CASE WHEN span > 0 THEN round(delta / span, 6) END AS rate
        FROM a
    """
    d["histogram_day"] = """
        WITH b AS (
          SELECT event_type, date_trunc('day', ts) AS day,
                 CAST(greatest(least(floor(value / 50.0), 9), 0) AS INT)
                     AS bin
          FROM events
          WHERE value IS NOT NULL AND NOT isnan(value)
        )
        SELECT event_type, day, bin,
               round(bin * CAST(50.0 AS DOUBLE), 6) AS bin_lo,
               count(*) AS cnt
        FROM b GROUP BY 1, 2, 3
    """
    d["funnel"] = """
        WITH u AS (SELECT DISTINCT user_id FROM events),
        t1 AS (SELECT user_id, min(ts) AS s1_ts FROM events
               WHERE event_type = 'view' GROUP BY 1),
        t2 AS (SELECT e.user_id, min(e.ts) AS s2_ts
               FROM events e JOIN t1 ON e.user_id = t1.user_id
               WHERE e.event_type = 'click' AND e.ts > t1.s1_ts GROUP BY 1),
        t3 AS (SELECT e.user_id, min(e.ts) AS s3_ts
               FROM events e JOIN t2 ON e.user_id = t2.user_id
               WHERE e.event_type = 'purchase' AND e.ts > t2.s2_ts GROUP BY 1)
        SELECT u.user_id, t1.s1_ts, t2.s2_ts, t3.s3_ts,
               (CASE WHEN t1.s1_ts IS NOT NULL THEN 1 ELSE 0 END
                + CASE WHEN t2.s2_ts IS NOT NULL THEN 1 ELSE 0 END
                + CASE WHEN t3.s3_ts IS NOT NULL THEN 1 ELSE 0 END)
                   AS reached
        FROM u LEFT JOIN t1 USING (user_id) LEFT JOIN t2 USING (user_id)
               LEFT JOIN t3 USING (user_id)
    """
    from hastl_spark.operators.smooth import ewma_oracle_sql

    d["ewma_1h"] = f"""
        WITH h AS (
          SELECT event_type, date_trunc('hour', ts) AS bucket,
                 count(*) AS cnt
          FROM events GROUP BY 1, 2
        )
        SELECT event_type, bucket, cnt,
               {ewma_oracle_sql(0.2, 12, 'event_type', 'bucket', 'cnt')}
        FROM h
    """
    d["docs_repetition"] = """
        WITH g AS (
          SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        ), r AS (
          SELECT doc_id,
                 CASE WHEN len(ws) >= 3
                      THEN list_transform(range(1, len(ws) - 1),
                                          i -> array_to_string(ws[i:i+2], ' '))
                      ELSE [] END AS grams
          FROM g
        )
        SELECT doc_id, CAST(len(grams) AS INT) AS n_grams,
               CASE WHEN len(grams) > 0
                    THEN round(CAST(1 AS DOUBLE)
                               - CAST(len(list_distinct(grams)) AS DOUBLE)
                                 / len(grams), 6)
                    ELSE 0.0 END AS rep_ratio
        FROM r
    """
    d["tfidf_top3"] = """
        WITH w AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS term
          FROM documents
        ), tf AS (
          SELECT doc_id, term, count(*) AS tf FROM w
          WHERE term <> '' GROUP BY 1, 2
        ), dfx AS (
          SELECT term, count(*) AS df FROM tf GROUP BY 1
        ), n AS (
          SELECT CAST(count(*) AS DOUBLE) AS n FROM documents
        ), sc AS (
          SELECT tf.doc_id, tf.term, (tf.tf * n.n) / dfx.df AS score
          FROM tf JOIN dfx USING (term) CROSS JOIN n
        ), rk AS (
          SELECT doc_id, term, score,
                 row_number() OVER (PARTITION BY doc_id
                                    ORDER BY score DESC, term ASC) AS rnk
          FROM sc
        )
        SELECT doc_id, term, round(score, 6) AS score,
               CAST(rnk AS INT) AS rnk
        FROM rk WHERE rnk <= 3
    """
    d["vocab_top50"] = """
        WITH g AS (
          SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        ), x AS (
          SELECT unnest(CASE WHEN len(ws) >= 2
                             THEN list_transform(range(1, len(ws)),
                                                 i -> array_to_string(
                                                     ws[i:i+1], ' '))
                             ELSE [] END) AS gram
          FROM g
        )
        SELECT gram, count(*) AS cnt FROM x GROUP BY 1
        ORDER BY cnt DESC, gram ASC LIMIT 50
    """
    d["state_durations"] = """
        WITH s AS (
          SELECT user_id, event_type AS state, ts,
                 lead(ts) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS nxt
          FROM events
        )
        SELECT user_id, state, count(*) AS n_entries,
               round(sum(CASE WHEN nxt IS NOT NULL
                              THEN (epoch_us(nxt) - epoch_us(ts)) / 1000000.0
                              ELSE 0.0 END), 6) AS total_seconds
        FROM s GROUP BY 1, 2
    """
    d["heartbeat_uptime"] = """
        WITH s AS (
          SELECT user_id, ts,
                 lead(ts) OVER (PARTITION BY user_id ORDER BY ts) AS nxt
          FROM events
        ), st AS (
          SELECT user_id,
                 CASE WHEN nxt IS NULL THEN CAST(3600.0 AS DOUBLE)
                      ELSE least((epoch_us(nxt) - epoch_us(ts)) / 1000000.0,
                                 CAST(3600.0 AS DOUBLE)) END AS live,
                 CASE WHEN nxt IS NOT NULL
                           AND (epoch_us(nxt) - epoch_us(ts)) / 1000000.0
                               > 3600.0
                      THEN 1 ELSE 0 END AS brk
          FROM s
        )
        SELECT user_id, count(*) AS n_beats,
               CAST(sum(brk) + 1 AS BIGINT) AS n_islands,
               round(sum(live), 6) AS uptime_seconds
        FROM st GROUP BY 1
    """
    from hastl_spark.operators.text import deterministic_split_case_sql

    d["docs_split"] = f"""
        SELECT doc_id, {deterministic_split_case_sql(0.9, 0.05)} AS split
        FROM documents
    """
    return d
