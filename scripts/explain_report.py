"""Physical-plan audit: dump .explain('formatted') for the pipeline's key
stages and assert the plan properties that matter at 100 TB:

  * the rollup scan PRUNES the tokens column (ReadSchema without tokens);
  * predicate pushdown reaches the parquet scan (PushedFilters);
  * relational stages run inside WholeStageCodegen;
  * the small dimension join broadcasts;
  * tier re-rollup reads the tier table, not the raw scan.

Writes PLANS.md at the repo root. Usage: python scripts/explain_report.py
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main():
    from pyspark.sql import functions as F

    from hastl_spark.operators.gapfill import stl_gapfill
    from hastl_spark.operators.rollup import rollup_1m, rollup_tier, with_event_time
    from hastl_spark.session import get_spark

    spark = get_spark(8, app_name="explain-report")
    seq_path = os.path.join(ROOT, ".bench_data", "sequences_xs")
    if not os.path.exists(seq_path):
        from hastl_spark.sources.sequences import generate_scale

        generate_scale(spark, "xs").write.mode("overwrite").parquet(seq_path)
    seqs = spark.read.parquet(seq_path)

    sections = {}
    checks = []

    # 1. salted rollup: tokens column must be pruned from the scan
    r1m = rollup_1m(with_event_time(seqs))
    p = plan_of(r1m)
    sections["rollup_1m (salted two-phase aggregation)"] = p
    pruned = "tokens" not in p.split("ReadSchema")[1].split("\n")[0] if "ReadSchema" in p else False
    checks.append(("rollup scan prunes `tokens`", pruned))
    checks.append(("two aggregation phases (partial+final x salt)", p.count("HashAggregate") >= 4))
    # AQE hides codegen spans in pre-execution formatted plans; execute THIS
    # DataFrame so its own queryExecution finalizes, then inspect it
    # (codegen shows as "*(n)" stage prefixes in the final plan string)
    r1m.collect()
    executed = r1m._jdf.queryExecution().executedPlan().toString()
    checks.append(("rollup inside WholeStageCodegen (executed plan)",
                   "WholeStageCodegen" in executed or "*(" in executed))
    sections["rollup_1m executed plan (codegen spans)"] = executed[:4000]

    # 2. filtered scan: predicate pushdown to parquet
    f = seqs.filter(F.col("source") == "src00").select("doc_id", "n_tok")
    p = plan_of(f)
    sections["filtered scan (source = 'src00')"] = p
    checks.append(("filter pushed to parquet (PushedFilters)",
                   "PushedFilters: [IsNotNull(source), EqualTo(source,src00)]" in p
                   or "EqualTo(source,src00)" in p))

    # 3. tier re-rollup (as the pipeline runs it: over the WRITTEN 1m table,
    # never the raw scan)
    import tempfile

    tdir = tempfile.mkdtemp(prefix="explain_t1m_")
    r1m.write.mode("overwrite").parquet(tdir)
    r1h = rollup_tier(spark.read.parquet(tdir), "1h")
    p = plan_of(r1h)
    sections["tier re-rollup 1m -> 1h (from the maintained 1m table)"] = p
    checks.append(("tier rollup scans only the tier table (no raw re-scan)",
                   p.count("Location: InMemoryFileIndex") == 1
                   and "sequences" not in p))

    # 4. gap-fill: single shuffle into ArrowEvalPython/FlatMapGroupsInPandas
    g = stl_gapfill(r1m)
    p = plan_of(g)
    sections["stl_gapfill (applyInPandas)"] = p
    checks.append(("gap-fill uses Arrow grouped-map (FlatMapGroupsInPandas)",
                   "FlatMapGroupsInPandas" in p))

    # 4b. grouped-map partition rule: the pandas UDF must sit behind an
    # EXPLICIT repartition (REPARTITION_BY_NUM — AQE cannot coalesce it
    # into one or two tasks) whose width is _grouped_map_partitions(df).
    # Upstream aggregation exchanges legitimately use
    # spark.sql.shuffle.partitions, so only the explicit one is parsed.
    import re

    from hastl_spark.operators.gapfill import _grouped_map_partitions

    _gm_re = (r"hashpartitioning\(source[^)]*,\s*(\d+)\),\s*"
              r"REPARTITION_BY_NUM")
    gm_width = _grouped_map_partitions(r1m)

    def _gm_rule(plan):
        widths = {int(m) for m in re.findall(_gm_re, plan)}
        return widths == {gm_width}

    checks.append(("gap-fill exchange is explicit, sized by the grouped-map "
                   "rule", _gm_rule(p)))

    # 4b2. trend_strength operator: same rule on ITS grouped-map exchange
    # (round-3 review: the entry file had a bare applyInPandas here)
    from hastl_spark.operators.trend import trend_strength

    tp = plan_of(trend_strength(g.select("source", "bucket", "trend",
                                         "seasonal")))
    sections["trend_strength (grouped-map exchange)"] = tp
    checks.append(("trend_strength exchange is explicit, sized by the "
                   "grouped-map rule", _gm_rule(tp)))

    # 4c. portable ANN: signature via ONE Arrow-batched UDF, band keys as
    # codegen bit ops (not n_bits interpreted Catalyst folds)
    from hastl_spark.operators.similarity import ann_topk_portable

    embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    p = plan_of(ann_topk_portable(embs, embs.filter("vec_id < 4"), dim=64))
    sections["ann_topk_portable (integer-sign LSH)"] = p
    checks.append(("portable ANN sig is one Arrow UDF + bit-op band keys",
                   "ArrowEvalPython" in p and "shiftright" in p))

    # 5. broadcast join for small dims (driver-contract revenue query)
    nation = spark.createDataFrame([(i, f"n{i}") for i in range(25)], "n_nationkey int, n_name string")
    big = spark.range(10**6).select(F.col("id").alias("c_custkey"),
                                    F.pmod("id", F.lit(25)).alias("c_nationkey"))
    j = big.join(F.broadcast(nation), big.c_nationkey == nation.n_nationkey)
    p = plan_of(j)
    sections["dimension join (explicit broadcast)"] = p
    checks.append(("dimension join is BroadcastHashJoin", "BroadcastHashJoin" in p))

    # 6. exact dedup: the shuffle must carry (hash, length) keys, never the
    # document text itself
    from hastl_spark.operators.dedup import exact_dup_groups

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    p = plan_of(exact_dup_groups(docs))
    sections["exact_dup_groups (hash-keyed shuffle)"] = p
    lines = p.splitlines()
    exch_blocks = []
    for i, ln in enumerate(lines):
        if ") Exchange" in ln:
            blk = []
            for l2 in lines[i:]:
                if not l2.strip():
                    break
                blk.append(l2)
            exch_blocks.append("\n".join(blk))
    no_text_shuffle = bool(exch_blocks) and all(
        "text#" not in b for b in exch_blocks)
    checks.append(("exact dedup exchange carries hash keys, not text", no_text_shuffle))

    # 7. sequence packing: the shard-offset join must BROADCAST (offsets are
    # sources x shards rows — tiny), and no window may partition by source
    # alone (a whole source in one task is the scale hazard the distributed
    # prefix sum exists to avoid)
    from hastl_spark.operators.packing import pack_sequences

    p = plan_of(pack_sequences(docs, 2048))
    sections["pack_sequences (distributed prefix sum)"] = p
    # windowspecdefinition(partition cols..., sort spec...): the full-input
    # cumsum must partition by (source, _shard) — "_shard#N," with no ASC
    # means _shard is a PARTITION col, not a sort col. A spec ordering _id
    # directly under source alone would be the whole-source single task.
    local_sharded = bool(re.search(
        r"windowspecdefinition\(source#\d+[^,]*, _shard#\d+[^ ]*, _id", p))
    whole_source = bool(re.search(
        r"windowspecdefinition\(source#\d+[^,]*, _id#\d+[^ ]* ASC", p))
    checks.append(("packing shard-offset join broadcasts",
                   "BroadcastHashJoin" in p or "BroadcastExchange" in p))
    checks.append(("packing cumsum window partitions by (source, _shard), "
                   "never source alone", local_sharded and not whole_source))
    checks.append(("packing window exchange is explicit, sized by the "
                   "grouped-map rule", _gm_rule(p)))

    # 10. as-of join: the union-merge plan must contain NO join operator at
    # all (the naive formulation is a theta-join / BroadcastNestedLoop) —
    # one Union, one Window, and a single key exchange feeding it (the only
    # other exchange allowed is the right side's own rollup aggregation).
    import __spark_entry__ as entrymod

    p = plan_of(entrymod.queries()["asof_enrich"](spark, "/root/testdata/sf0.001"))
    sections["asof_enrich (union-merge as-of join)"] = p
    n_exch = len(re.findall(r"Exchange \(\d+\)", p))
    checks.append(("as-of join has no Join operator (union-merge, not theta)",
                   "Join" not in p and "CartesianProduct" not in p))
    checks.append(("as-of join is one Union + one Window + <=2 exchanges",
                   len(re.findall(r"Union \(\d+\)", p)) == 1
                   and len(re.findall(r"Window \(\d+\)", p)) == 1
                   and n_exch <= 2))

    # 10b. broadcast as-of: the left side must never shuffle — the whole
    # plan is scan -> ArrowEvalPython/MapInPandas -> sink, zero exchanges.
    from hastl_spark.operators.asof import asof_join_broadcast

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    r = ev.groupBy("event_type").agg(F.max("ts").alias("bucket_end"),
                                     F.count(F.lit(1)).alias("prev_cnt"))
    p = plan_of(asof_join_broadcast(ev, r, by="event_type", left_on="ts",
                                    right_on="bucket_end"))
    sections["asof_join_broadcast (zero-shuffle map-side)"] = p
    checks.append(("broadcast as-of never shuffles the left side",
                   len(re.findall(r"Exchange \(\d+\)", p)) == 0
                   and "MapInPandas" in p))

    # 11. round-5 analytics ops: the shuffle-shape claims in their docstrings
    # funnel: all three stages + the final agg must share ONE user exchange
    p = plan_of(entrymod.queries()["funnel"](spark, "/root/testdata/sf0.001"))
    sections["funnel (stacked windows, one exchange)"] = p
    checks.append(("funnel resolves 3 stages in ONE exchange",
                   len(re.findall(r"Exchange \(\d+\)", p)) == 1
                   and "Join" not in p))

    # counter_agg: the final per-key aggregation reuses the lag window's
    # hash partitioning (one exchange total)
    p = plan_of(entrymod.queries()["counter_rate_1h"](
        spark, "/root/testdata/sf0.001"))
    sections["counter_rate_1h (window + agg, one exchange)"] = p
    checks.append(("counter agg reuses the lag window's exchange",
                   len(re.findall(r"Exchange \(\d+\)", p)) == 1))

    # repetition ratio: pure per-row array expressions — no KEYED exchange.
    # r6: the scan-parallelism floor may add ONE round-robin exchange right
    # after the read (single-row-group testdata); that is a redistribution,
    # not a shuffle the operator needs — assert no hash/range exchange.
    p = plan_of(entrymod.queries()["docs_repetition"](
        spark, "/root/testdata/sf0.001"))
    sections["docs_repetition (zero-shuffle array expressions)"] = p
    n_exch = len(re.findall(r"Exchange \(\d+\)", p))
    n_rr = p.count("RoundRobinPartitioning")
    checks.append(("repetition ratio has no keyed exchange (floor round-robin only)",
                   n_exch - n_rr == 0))

    # vocab census: orderBy+limit must compile to TakeOrdered, not a
    # global Sort of the gram counts
    p = plan_of(entrymod.queries()["vocab_top50"](
        spark, "/root/testdata/sf0.001"))
    sections["vocab_top50 (TakeOrdered top-k)"] = p
    checks.append(("vocab top-k is TakeOrdered, not a global sort",
                   "TakeOrderedAndProject" in p))

    # state/heartbeat: lead window + final agg on ONE reused key exchange
    for qname in ("state_durations", "heartbeat_uptime"):
        p = plan_of(entrymod.queries()[qname](spark, "/root/testdata/sf0.001"))
        sections[f"{qname} (window + agg, one exchange)"] = p
        checks.append((f"{qname} reuses the lead window's exchange",
                       len(re.findall(r"Exchange \(\d+\)", p)) == 1))

    # corpus_prep: the composed pipeline keeps its component plan shapes —
    # benchmark shingles broadcast (corpus never shuffles for the
    # contamination stage) and the exact-dedup exchange carries xxhash64
    # keys, not document bodies. r6: q_corpus_prep lazily localCheckpoints
    # the `clean` survivor frame (it is consumed by packing AND the final
    # join), so the query-level explain shows Scan ExistingRDD above the
    # checkpoint boundary; the audited shapes below are the checkpoint's
    # OWN plan — exactly what executes inside the query's first action —
    # recomposed here without the boundary.
    from hastl_spark.operators.dedup import contamination_flags
    from hastl_spark.operators.packing import pack_sequences
    from hastl_spark.operators.text import quality_score

    docs_e = entrymod._docs(spark, "/root/testdata/sf0.001", floor=True)
    q_ = quality_score(docs_e).filter(F.col("quality") >= 0.8)
    keep_ = exact_dup_groups(q_).select(F.col("keep_id").alias("doc_id"))
    surv_ = q_.join(keep_, "doc_id")
    flags_ = contamination_flags(surv_, docs_e.filter("doc_id % 97 = 0"),
                                 n=16)
    clean_ = surv_.join(
        flags_.filter(~F.col("contaminated")).select("doc_id"), "doc_id")
    packed_ = pack_sequences(clean_, entrymod._PACK_BUDGET)
    p = plan_of(clean_.select("doc_id", "quality").join(packed_, "doc_id")
                .select("doc_id", "source", "quality", "pack_id",
                        "pack_offset", "packs_spanned"))
    sections["corpus_prep (composed pipeline, checkpoint-internal plan)"] = p
    checks.append(("corpus_prep broadcasts the benchmark shingle set",
                   "BroadcastHashJoin" in p))
    checks.append(("corpus_prep dedup exchange carries hash keys",
                   "xxhash64" in p))

    # minhash_incremental: the probe must read the index through a
    # LEFT-SEMI join on the new batch's (band, bh) buckets — the evidence
    # that an incremental batch touches only its own band buckets instead
    # of rescanning the whole index. r6: dedup_incremental returns an
    # eager localCheckpoint (leak fix), so the query-level explain is a
    # Scan ExistingRDD; audit the probe's own plan, which is what that
    # checkpoint materialized.
    from hastl_spark.operators.dedup_index import MinHashIndex

    d_ = entrymod._scratch_index_dir("mh_idx_audit", "/root/testdata/sf0.001")
    docs_a = entrymod._docs(spark, "/root/testdata/sf0.001")
    idx_ = MinHashIndex(d_, n=5, k=16, bands=4)
    idx_.build(spark, docs_a.filter("doc_id < 200"))
    p = plan_of(idx_.probe(
        spark, docs_a.filter("doc_id >= 200 AND doc_id < 300"),
        threshold=0.35))
    sections["minhash_incremental (bucket-pruned index probe plan)"] = p
    checks.append(("incremental dedup probes the index via left-semi",
                   "LeftSemi" in p))

    # ewma: the fold stays in Catalyst — no Python evaluator in the plan
    p = plan_of(entrymod.queries()["ewma_1h"](spark, "/root/testdata/sf0.001"))
    sections["ewma_1h (in-engine aggregate fold)"] = p
    checks.append(("ewma fold is Catalyst-only (no Python eval)",
                   "ArrowEvalPython" not in p and "BatchEvalPython" not in p
                   and "FlatMapGroupsInPandas" not in p))

    out = ["# PLANS — physical-plan audit (generated by scripts/explain_report.py)\n"]
    out.append("## Checks\n")
    for name, ok in checks:
        out.append(f"- [{'x' if ok else ' '}] {name}")
    out.append("\n")
    for title, p in sections.items():
        out.append(f"## {title}\n\n```\n{p}\n```\n")
    with open(os.path.join(ROOT, "PLANS.md"), "w") as fh:
        fh.write("\n".join(out))
    bad = [n for n, ok in checks if not ok]
    print("FAILED CHECKS:", bad if bad else "none")
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
