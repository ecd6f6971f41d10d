"""Training-sequence packing and mixture sampling — the two assembly-side
operations an LLM training-data pipeline runs after dedup/filtering.

* :func:`pack_sequences` — concat-and-chunk packing: per source, documents
  (ordered by id) form one concatenated token stream that is split into
  fixed-budget packs (context windows). Each doc gets its pack id, offset
  within the pack, and how many packs it spans. This is the standard
  "concatenate then chunk at context length" packing used for LLM
  pre-training batches.
* :func:`pack_summary` — per-pack occupancy: number of docs touching the
  pack and the exact token contribution (boundary docs contribute only
  their overlap), so fill ratio is auditable.
* :func:`mixture_sample` — deterministic per-source rate sampling with
  portable integer arithmetic (an LCG hash of the id), the "data mixture
  weights" step. Pure filter: every surviving row is byte-identical to its
  input row, so the token-array preservation invariant holds trivially.

Scale design: the per-source running total is a DISTRIBUTED prefix sum,
not a single window. A naive ``sum() over (partition by source order by
id)`` puts an entire source — possibly 10^10 docs of one crawl — into one
task. Instead ids are sharded into contiguous ranges (order-preserving),
each shard computes a bounded local cumsum, shard totals (tiny: sources x
shards rows) get a prefix-sum window of their own, and the per-shard
offsets broadcast-join back. Equality with the naive single window is
pinned by tests/test_packing.py.

All arithmetic is exact int64 (%, -, /-of-exact-multiples), reproducible
bit-for-bit in ANSI SQL — every operator here has a DuckDB oracle twin in
__spark_entry__.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _require_integral_id(df: DataFrame, id_col: str) -> None:
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    t = df.schema[id_col].dataType
    if not isinstance(t, (ByteType, ShortType, IntegerType, LongType)):
        raise TypeError(
            f"{id_col} must be integral (got {t.simpleString()}): sharding "
            "and the LCG sampler do exact int64 arithmetic on it — derive a "
            "numeric order key first (a string id would cast to null and "
            "silently break shard/rate semantics)")


def pack_sequences(df: DataFrame, budget: int, cost_col: str = "n_chars",
                   source_col: str = "source", id_col: str = "doc_id",
                   shard_size: int = 65536, _carry: tuple = ()) -> DataFrame:
    """Assign each doc its pack under concat-and-chunk packing.

    Returns (id_col, source_col, pack_id, pack_offset, packs_spanned):
    ``pack_id``   = floor(stream_start / budget) — the pack the doc STARTS in;
    ``pack_offset`` = stream_start % budget — position inside that pack;
    ``packs_spanned`` = how many budget windows [start, start+cost) crosses.

    ``cost_col`` must be a positive integer column (token count / char
    count). ``shard_size`` bounds the rows any single window task sees.

    ``id_col`` must be INTEGRAL: the order-preserving sharding arithmetic
    needs it (a string id would cast to null and silently collapse every
    row into one shard — the exact whole-source-single-task hazard this
    operator exists to avoid). Callers with string ids derive a numeric
    order key first (e.g. the sequences table's zero-padded suffix).
    """
    _require_integral_id(df, id_col)
    b = F.lit(int(budget))
    # _carry: extra df columns to ride along through the prefix-sum window
    # (internal; lets pack_tokens/pack_summary avoid a second keyed join
    # that would shuffle+sort the token payload a second time)
    carry = [F.col(c) for c in _carry]
    d = df.select(
        F.col(source_col).alias("source"), F.col(id_col).alias("_id"),
        F.col(cost_col).cast("long").alias("_cost"),
        # contiguous id ranges keep shard order == id order, so the
        # shard-prefix reconstruction is exact
        (F.col(id_col).cast("long") - F.pmod(F.col(id_col).cast("long"),
                                             F.lit(int(shard_size)))).alias("_shard"),
        *carry,
    )
    w_local = (Window.partitionBy("source", "_shard").orderBy("_id")
               .rowsBetween(Window.unboundedPreceding, 0))
    # explicit window exchange sized by the grouped-map rule
    # (gapfill._grouped_map_partitions): the (source, _shard) frame is
    # small, and AQE would otherwise coalesce it into one or two tasks. The
    # window's required clustering is satisfied by this exchange, so no
    # second shuffle is added.
    from .gapfill import _grouped_map_partitions

    local = (d.repartition(_grouped_map_partitions(d), "source", "_shard")
             .withColumn("_lcum", F.sum("_cost").over(w_local)))
    totals = (d.select("source", "_shard", "_cost")
              .groupBy("source", "_shard").agg(F.sum("_cost").alias("_stot")))
    w_shard = (Window.partitionBy("source").orderBy("_shard")
               .rowsBetween(Window.unboundedPreceding, -1))
    offsets = (totals
               .withColumn("_off", F.coalesce(F.sum("_stot").over(w_shard),
                                              F.lit(0)))
               .select("source", "_shard", "_off"))
    packed = local.join(F.broadcast(offsets), ["source", "_shard"])
    start = F.col("_lcum") - F.col("_cost") + F.col("_off")
    last = start + F.col("_cost") - F.lit(1)  # last token position (cost >= 1)
    # exact integer floor-div via %: (x - x % b) / b is an exact multiple
    pack_id = ((start - F.pmod(start, b)) / b).cast("long")
    last_pack = ((last - F.pmod(last, b)) / b).cast("long")
    return packed.select(
        F.col("_id").alias(id_col), F.col("source").alias(source_col),
        pack_id.alias("pack_id"),
        F.pmod(start, b).alias("pack_offset"),
        (last_pack - pack_id + F.lit(1)).cast("int").alias("packs_spanned"),
        *[F.col(c) for c in _carry],
    )


def pack_summary(df: DataFrame, budget: int, cost_col: str = "n_chars",
                 source_col: str = "source", id_col: str = "doc_id",
                 shard_size: int = 65536) -> DataFrame:
    """Per-(source, pack) occupancy: docs touching the pack and their exact
    token contribution (boundary docs count only the overlap with the
    pack's [p*budget, (p+1)*budget) window). Every pack except a source's
    last is exactly full — pinned in tests as the conservation check."""
    b = F.lit(int(budget))
    a = (pack_sequences(df, budget, cost_col, source_col, id_col,
                        shard_size, _carry=(cost_col,))
         .withColumn("_cost", F.col(cost_col).cast("long")))
    start = F.col("pack_id") * b + F.col("pack_offset")
    exploded = (a.select(
        F.col(source_col).alias("source"), F.col(id_col), start.alias("_start"),
        (start + F.col("_cost")).alias("_end"),
        F.explode(F.sequence(
            F.col("pack_id"),
            F.col("pack_id") + F.col("packs_spanned") - F.lit(1))).alias("pack_id"),
    ))
    lo = F.greatest(F.col("_start"), F.col("pack_id") * b)
    hi = F.least(F.col("_end"), (F.col("pack_id") + F.lit(1)) * b)
    return (exploded
            .select("source", "pack_id", (hi - lo).alias("_contrib"))
            .groupBy("source", "pack_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.sum("_contrib").alias("n_units"))
            .withColumnRenamed("source", source_col))


def pack_tokens(df: DataFrame, budget: int, tokens_col: str = "tokens",
                cost_col: str = "n_tok", source_col: str = "source",
                id_col: str = "doc_id", shard_size: int = 65536) -> DataFrame:
    """PHYSICAL concat-and-chunk packing: per (source, pack) the actual
    budget-length token array, assembled from each document's overlap with
    the pack window. :func:`pack_sequences` is the metadata half; this is
    the materialization an LLM pre-training batch pipeline ships.

    Returns (source_col, pack_id, tokens_col) where every pack except a
    source's last holds exactly ``budget`` tokens, and flattening a source's
    packs in pack_id order reproduces its documents' tokens in id order
    (the token-preservation invariant, pinned by test).

    ``cost_col`` must equal ``size(tokens_col)`` and be >= 1.

    Scale shape: the token payload crosses exactly two exchanges — the
    prefix-sum window shuffle (it rides along via ``_carry``; no join-back,
    which would shuffle AND sort it a third time) and the assembly groupBy.
    A doc explodes into only the packs it overlaps (``1 + cost/budget``
    pieces), each piece a Catalyst ``slice`` of the original array (no
    per-token rows, unlike an explode-to-token design at 10^12 tokens), and
    per-group assembly state is bounded by ``budget`` tokens regardless of
    doc or source size.
    """
    b = F.lit(int(budget))
    # tokens ride the prefix-sum window shuffle (_carry) instead of a
    # second (source, id) join-back, which would shuffle AND sort the
    # token payload again
    a = (pack_sequences(df, budget, cost_col, source_col, id_col,
                        shard_size, _carry=(tokens_col,))
         .withColumn("_toks", F.col(tokens_col))
         .withColumn("_cost", F.size("_toks").cast("long")))
    start = F.col("pack_id") * b + F.col("pack_offset")
    exploded = a.select(
        F.col(source_col).alias("source"), start.alias("_start"),
        (start + F.col("_cost")).alias("_end"), F.col("_toks"),
        F.explode(F.sequence(
            F.col("pack_id"),
            F.col("pack_id") + F.col("packs_spanned") - F.lit(1))
        ).alias("pack_id"),
    )
    lo = F.greatest(F.col("_start"), F.col("pack_id") * b)
    hi = F.least(F.col("_end"), (F.col("pack_id") + F.lit(1)) * b)
    pieces = exploded.select(
        "source", "pack_id",
        (lo - F.col("pack_id") * b).alias("_pos"),
        F.slice(F.col("_toks"), (lo - F.col("_start") + F.lit(1)).cast("int"),
                (hi - lo).cast("int")).alias("_piece"),
    )
    # array_sort on struct(_pos, _piece) orders by _pos (unique per group),
    # so the assembly is deterministic without a sort-within-partitions pass
    return (pieces
            .groupBy("source", "pack_id")
            .agg(F.flatten(F.transform(
                F.array_sort(F.collect_list(F.struct("_pos", "_piece"))),
                lambda s: s["_piece"])).alias(tokens_col))
            .withColumnRenamed("source", source_col))


# LCG constants (glibc rand): portable exact int64 arithmetic in any engine
_MIX_A = 1103515245
_MIX_C = 12345
_MIX_M = 2147483647
_MIX_DENOM = 1_000_000


def mixture_sample(df: DataFrame, rates: dict[str, float],
                   default_rate: float = 0.0, id_col: str = "doc_id",
                   source_col: str = "source") -> DataFrame:
    """Deterministic mixture sampling: keep a row iff
    ``(id*A + C) % M % 10^6 < rate(source) * 10^6``.

    Rates are per-source keep probabilities (the training-mixture weights).
    Pure filter — survivors are byte-identical input rows (token arrays
    preserved), re-runnable with identical output on any cluster size.
    ``rates`` is a plain dict because mixture weights are a small config,
    exactly like a broadcast dim table. ``id_col`` must be integral (the
    LCG is exact int64 arithmetic).

    The id is reduced mod M BEFORE the multiply (same discipline as
    ``sketch.kmv_hash``): (id mod M)*A + C <= (M-1)*A + C fits int64,
    whereas raw id*A overflows for ids >= ~8.36e9 — an ANSI-mode runtime
    error (or silent wrap + oracle divergence) under the repo's own
    10-digit doc_id suffix convention. (x*A) mod M == ((x mod M)*A) mod M,
    so values are unchanged where the old form didn't overflow."""
    _require_integral_id(df, id_col)
    u = F.pmod(F.pmod(F.pmod(F.col(id_col).cast("long"), F.lit(_MIX_M))
                      * F.lit(_MIX_A) + F.lit(_MIX_C),
                      F.lit(_MIX_M)), F.lit(_MIX_DENOM))
    thr = F.lit(int(round(default_rate * _MIX_DENOM)))
    for src, rate in sorted(rates.items()):
        thr = F.when(F.col(source_col) == src,
                     F.lit(int(round(rate * _MIX_DENOM)))).otherwise(thr)
    return df.filter(u < thr)


def mixture_sample_where_sql(rates: dict[str, float],
                             default_rate: float = 0.0,
                             id_col: str = "doc_id",
                             source_col: str = "source") -> str:
    """The WHERE clause of :func:`mixture_sample` as portable ANSI SQL —
    identical integer arithmetic, for DuckDB oracle twins."""
    cases = " ".join(
        f"WHEN {source_col} = '{src}' THEN {int(round(rate * _MIX_DENOM))}"
        for src, rate in sorted(rates.items()))
    thr = f"(CASE {cases} ELSE {int(round(default_rate * _MIX_DENOM))} END)"
    # mirrors mixture_sample's pre-mod reduction (int64-safe for any id)
    return (f"((((({id_col} % {_MIX_M}) + {_MIX_M}) % {_MIX_M}"
            f" * {_MIX_A} + {_MIX_C}) % {_MIX_M}) % {_MIX_DENOM}) < {thr}")
