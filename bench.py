"""Benchmark harness: times the engine's headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line.

Each query is forced to full materialization with a noop-format write
(no driver collect, no column pruning of the final project).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

#: name → registry key; the headline set covers the flagship plus the
#: heaviest shapes (multiway join+agg, window, count-distinct, LSH dedup,
#: ANN, streaming window).
HEADLINE = [
    "fact_snapshot",
    "agg_count_distinct",
    "join_multiway_sql",
    "win_running_sum_cust",
    "dedup_minhash_pairs",
    "dedup_ngram_jaccard",
    "ann_bruteforce_topk",
    "stream_window_counts",
    "stream_sessionize",
    # r03 additions (appended — the 9 above stay frozen for r02→r03
    # comparability): SCD2 merge, nested relationalize child, and the
    # end-to-end curation pipeline (langid → quality → dedup).
    "scd2_merge_dim",
    "relationalize_child",
    "llm_curation_pipeline",
    # late-r03 additions: as-of join (union+window, no join node) and
    # corpus-wide line dedup (hash-agg winner per line)
    "join_asof_purchase",
    "dedup_lines_c4",
    # r04 additions (appended — everything above stays frozen): the
    # hot-key-split asof variant (boundary-carry overhead vs the plain
    # form directly above it), the 3-stage funnel, and rolling z-score
    "join_asof_bucketed",
    "funnel_view_click_purchase",
    "ts_rolling_zscore",
    # r05 addition: the hot-key-split z-score (row-bucketed window +
    # boundary carry) next to its plain form, like the asof pair
    "ts_rolling_zscore_bucketed",
    # late-r05 additions: semantic dedup (cell-bucketed cosine; the
    # _full variant scales with SF — the oracle-pinned planted entry is
    # constant-size by design) and columnar BM25 ranking
    "dedup_semantic_pairs_full",
    "text_bm25_rank",
    # final-r05 additions: PQ-compressed ANN over the full embedding
    # table, the streaming CDC→SCD2 apply (3 micro-batch merges), and
    # the Gopher-rule filter (map-only rule bundle over two splits/row)
    "ann_pq_topk",
    "stream_cdc_scd2",
    "text_gopher_filter",
    # round-5 continuation: Bloom-prefiltered fact⋈dim join, SymSpell
    # ed≤1 fuzzy self-join (deletion-neighborhood banding), and the
    # unigram-LM quality score (two hash-aggs + one word join)
    "join_bloom_prefilter",
    "dedup_fuzzy_ed1_pairs",
    "text_unigram_logprob",
    # the classic TPC-H shapes: scan-heavy single-pass agg (q1), dim
    # filter + top-k (q3, TakeOrderedAndProject), 6-table broadcast
    # chain (q5), HAVING semi-join (q18)
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume",
    "tpch_q18_large_volume_customer",
    # deepest join tree (8 tables, nation aliased twice) and the
    # outer-join count histogram
    "tpch_q8_market_share",
    "tpch_q13_customer_distribution",
    # TPC-H completion (the set is now 22/22): the 5-table profit rollup
    # with exact-decimal netting (q9) and the EXISTS/NOT-EXISTS pair
    # rewritten as one window over the order key (q21)
    "tpch_q9_product_type_profit",
    "tpch_q21_waiting_supplier",
    # r06 addition: the hot-key-split flagship next to the plain form
    # (the running-sum sibling of the asof/zscore split pairs)
    "fact_snapshot_split",
    # r08 addition: passage-level substring dedup (shingle-hash inverted
    # index + self-join — the heaviest join shape added in r7, benched so
    # the ledger has a number for it)
    "dedup_substring_spans",
    # late-r08 additions: the four heaviest new shapes of the round's
    # second half — degree-oriented triangle counting (wedge equi-join
    # against a planted hub), market-basket pair lift (within-order
    # self-join under the basket cap), the dual RANGE-frame velocity
    # features over 1 M events, and the JL projection (64→16 literal
    # ±1 fold, pure codegen)
    "graph_triangle_count",
    "assoc_copurchase_lift",
    "feature_velocity_windows",
    "embed_jl_projection",
    # end-of-r08 additions: the passage-REMOVAL splice (spans pipeline +
    # interval merge + array gather) and the bitmap-distinct rollup
    # (bit_or/popcount + bitmap-AND retention join)
    "dedup_substring_remove",
    "scale_bitmap_retention",
    # r09 additions: the histogram-bucketed exact-rank machinery in its
    # global and grouped forms (quantile normalization over 1 M events —
    # the no-single-task-sort replacement for percent_rank() OVER ()),
    # and the pure-Python Avro datum codec roundtrip (Arrow-batched
    # mapInPandas throughput, the one deliberate Python-path headline)
    "feature_quantile_normalize",
    "feature_quantile_normalize_grouped",
    "src_avro_datum_roundtrip",
    # r10 additions: the three iterative/trainer shapes of the round —
    # Lloyd k-means (2 broadcast-assign + hash-agg-update rounds over
    # the embedding table), BPE merge training (3 vocabulary-sized pair
    # rounds off one corpus pass), and star-contraction connected
    # components on a long-chain graph (the O(log^2 n) CC that replaces
    # diameter-bound min-label)
    "ml_kmeans_lloyd",
    "text_bpe_train_merges",
    "graph_cc_star_chain",
    # r11 additions: the from-scratch JPEG decode (Arrow-batched
    # mapInPandas over generated binaries — the Python-decode
    # throughput shape next to the avro datum codec), the decorrelated
    # lateral top-k (WindowGroupLimit + broadcast join), and the
    # mapInArrow zero-copy vector kernel
    "multimodal_decode_jpeg",
    "join_lateral_topk",
    "arrow_native_quantized_norm",
    # r12 addition: transformWithState running totals — RocksDB-backed
    # ValueState across micro-batches through the vendored protobuf
    # codec; the ListState/MapState siblings share the same machinery
    # cost, so one representative carries the trend line
    "stream_tws_running_totals",
    # r13 additions: the pipe-syntax pricing summary (must track
    # tpch_q1's scan+agg cost — pipe syntax is parser surface, so any
    # gap is a plan regression) and the mergeable approx_top_k sketch
    # (ObjectHashAggregate partial/final over orders)
    "sql_pipe_syntax_pricing",
    "agg_approx_top_k_merge",
]

#: SECOND frozen subset (r16, VERDICT r15 task 3): the post-r11
#: surfaces the 54-query set above predates — recorded ALONGSIDE it
#: (own passes, own probe fence, own totals under *2 keys), never
#: mixed in, so the 54-query trend line keeps its r2→r16 meaning while
#: the newer surfaces get a comparable series of their own starting
#: here.  FROZEN from r16 on; additions get a third set, not edits.
HEADLINE2 = [
    "variant_explode_lateral",       # VARIANT parse + lateral explode
    "agg_session_window_batch",      # native batch session_window
    "stream_state_store_read",       # statestore reader over checkpoint
    "win_ignore_nulls_family",       # IGNORE NULLS lag/lead/nth
    "agg_moments_family",            # skew/kurt/corr/covar bundle
    "sketch_kll_quantile_band",      # KLL sketch vs exact percentile
    "multimodal_decode_png",         # from-scratch PNG decode (Python path)
    "agg_bitmap_distinct_exact",     # bitmap exact-distinct rollup
    "sql_recursive_cte_walk",        # recursive CTE graph walk
    "dedup_fuzzy_entity_ids",        # blocked ed1 pairs → iterative CC
]

def calibration_probe(spark) -> float:
    """Box-speed calibration: a pinned, CPU-bound, testdata-independent
    Spark job — 32M synthetic ids through md5→conv→hash-agg on 32
    partitions — FROZEN FOREVER so `calibration_sec` means the same
    thing in every round's BENCH artifact.  r8's 48→72 s bench scare
    was pure box drift and cost a worktree A/B to adjudicate; dividing
    any two rounds' totals by their calibration ratio settles it from
    the JSON alone.  Reported: median of 3 after one warmup."""
    df = (spark.range(0, 32_000_000, 1, 32)
          .selectExpr("id % 9973 AS k",
                      "conv(substring(md5(cast(id AS string)),1,15),16,10)"
                      " AS h")
          .groupBy("k").agg({"h": "sum"}))
    times = []
    for i in range(4):
        t0 = time.time()
        df.write.format("noop").mode("overwrite").save()
        times.append(time.time() - t0)
    return round(sorted(times[1:])[1], 3)


def warm_up(spark, qs, names) -> None:
    """One tiny-sf pass per query primes the JVM, codegen cache, and
    file-source metadata so the timed numbers reflect steady-state
    execution rather than first-query startup cost."""
    for name in names:
        try:
            qs[name](spark, "/root/testdata/sf0.001").write.format("noop").mode("overwrite").save()
        except Exception:
            pass


def fenced_pass(spark, qs, names, sf_dir, samples, probes,
                probe=calibration_probe) -> float:
    """One timed noop-sink pass over ``names`` at ``sf_dir`` (seconds
    appended to ``samples[name]``), then one probe appended to ``probes``
    — the probe fence: pass i sits between probes[i] and probes[i+1], so
    a judge can see WHICH pass was contended.  Returns the pass total."""
    t_pass = time.time()
    for name in names:
        start = time.time()
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        samples[name].append(time.time() - start)
    total = round(time.time() - t_pass, 3)
    probes.append(probe(spark))
    return total


def rounded(samps):
    return {n: [round(t, 3) for t in ts] for n, ts in samps.items()}


def medians(samps):
    """Per-query median and max-min spread; sorts each list in place."""
    t, s = {}, {}
    for name, ts in samps.items():
        ts.sort()
        t[name] = round(ts[len(ts) // 2], 3)
        s[name] = round(ts[-1] - ts[0], 3)
    return t, s


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(os.path.normpath(sf_dir)).replace("sf", "")
    # interleaved full-suite passes; per-query MEDIAN is reported (r5 —
    # best-of-2 min on a ±2 s box gave a ~10% error bar; the median of
    # interleaved rounds is drift-robust and what the trend tables quote)
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))

    from aws_etl_bank_spark.session import get_spark
    import __spark_entry__ as entrymod

    spark = get_spark("bench")
    # The driver's stdout tail capture is shared between our JSON line and
    # whatever Spark logs late in the run — streaming queries emit WARN
    # lines (checkpoint notices) AND, at `query.stop()` mid-batch, an
    # ERROR-level DAGScheduler "job cancelled" stack trace (it landed in
    # BENCH_r11's captured tail).  Both are benign log noise from an
    # otherwise-green run; real failures surface as Python exceptions and
    # a non-zero rc regardless of log4j level.  OFF keeps the tail clean.
    spark.sparkContext.setLogLevel("OFF")
    qs = entrymod.queries()
    # Optional subset for the gate's end-to-end capture-contract test
    # (tests/test_verify_gate.py): comma-separated HEADLINE names.
    subset = [s for s in
              os.environ.get("SPARK_GRAFT_BENCH_QUERIES", "").split(",") if s]
    headline = [n for n in HEADLINE if n in subset] if subset else HEADLINE
    headline2 = [n for n in HEADLINE2 if n in subset] if subset else HEADLINE2
    warm_up(spark, qs, headline + headline2)
    # The first probe runs AFTER warmup (r10 ADVICE): before it, the
    # probe absorbs JVM/codegen cold-start and systematically reads
    # slower than the later probes — all probes must measure
    # steady-state.  pre/post keep their r9 meaning as the fence ends.
    probes = [calibration_probe(spark)]
    # Interleaved rounds (suite-order pass 1, pass 2, ...) so slow box
    # drift lands on every query equally instead of biasing one.
    samples: dict[str, list[float]] = {name: [] for name in headline}
    pass_totals = [fenced_pass(spark, qs, headline, sf_dir, samples, probes)
                   for _ in range(runs)]
    # Second frozen subset: its own interleaved passes AFTER the main
    # suite, bracketed by its own probe fence (starting from the main
    # fence's last probe), so neither set's pass totals absorb the
    # other's contention.
    samples2: dict[str, list[float]] = {name: [] for name in headline2}
    probes2 = [probes[-1]]
    pass_totals2 = [fenced_pass(spark, qs, headline2, sf_dir, samples2, probes2)
                    for _ in range(runs if headline2 else 0)]

    # chronological copies BEFORE medians sorts in place: the sorted
    # "samples" arrays show spread only; these show run order, so a
    # reader can tell per-pass accumulation from contention spread
    # (r18 — the streaming thread-leak diagnosis needed exactly this)
    samples_chrono = rounded(samples)
    samples2_chrono = rounded(samples2)
    timings, spread = medians(samples)
    timings2, spread2 = medians(samples2)
    total = round(sum(timings.values()), 3)
    total2 = round(sum(timings2.values()), 3)
    full = {
        "metric": "headline_total_runtime",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "spread": spread,
        "samples": rounded(samples),
        "pass_totals": pass_totals,
        "probes": probes,
        "runs": runs,
        "sf": float(sf),
        "calibration_sec": probes[-1],
        "calibration_pre": probes[0],
        "calibration_post": probes[-1],
        # second frozen subset (r16+): post-r11 surfaces, own series
        "value2": total2,
        "queries2": timings2,
        "spread2": spread2,
        "samples2": rounded(samples2),
        "pass_totals2": pass_totals2,
        "probes2": probes2,
        # r18 additive keys (file artifact only — the stdout line is
        # unchanged): per-query samples in RUN ORDER, see above
        "samples_chrono": samples_chrono,
        "samples2_chrono": samples2_chrono,
    }
    # Full result (per-query samples + spreads) goes to a repo file: the
    # driver's stdout tail capture is ~2000 chars and r5's line outgrew
    # it (BENCH_r05.json parsed=null, medians clipped).  stdout carries
    # a compact separator-free line — queries + medians only — that
    # stays well under the capture limit and parses on its own.
    out_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench_out")
    os.makedirs(out_dir, exist_ok=True)
    # A subset run (gate test) must not overwrite the real artifact.
    artifact = "BENCH_local.json" if not subset else "BENCH_subset.json"
    with open(os.path.join(out_dir, artifact), "w") as f:
        json.dump(full, f, indent=1)
    print(json.dumps({
        "metric": "headline_total_runtime",
        "value": total,
        "unit": "sec",
        # 2-decimal medians on the COMPACT line only (10 ms precision —
        # below box noise); the full artifact keeps 3 decimals.  At 52
        # queries the 3-decimal worst case outgrew the ~2000-char
        # driver tail capture.
        "queries": {n: round(t, 2) for n, t in timings.items()},
        # The second frozen subset (value2/queries2/probes2) is NOT on
        # this line: the 54-query worst case already sits 7 chars under
        # the 1900-char budget (tests pin it), and r5's clipped BENCH
        # artifact is what happens when the line outgrows the driver's
        # tail capture.  Both sets + probe fences live in the full
        # artifact below, committed per round as BENCH_local_r{N}.json.
        "runs": runs,
        "sf": float(sf),
        # probe fence: pass i sits between probes[i] and probes[i+1],
        # so a judge can attribute drift to a specific pass from the
        # JSON alone.  calibration_pre/post are NOT repeated here (they
        # are probes[0] / probes[-1]).  Per-pass wall totals
        # ("samples") moved to the full artifact only in r13 — at 54
        # queries the compact line was outgrowing the ~2000-char
        # driver tail capture (bench_out/BENCH_local.json keeps them).
        "probes": probes,
        "calibration_sec": probes[-1],
    }, separators=(",", ":")), flush=True)


if __name__ == "__main__":
    main()
