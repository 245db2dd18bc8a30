"""Sustained-throughput measurement for the streaming CDC → SCD2 apply
(r16 verdict task 5 — the decade-audit sibling of
scripts/tws_throughput.py and scripts/incdedup_throughput.py, for the
remaining growing-state streaming surface without one).

The registry entry ``stream_cdc_scd2`` verifies correctness on a
3-batch feed; this measures the steady state at a decade up: a
``copies``-striped change feed over the events table (each stripe
re-plays every key with STRICTLY NEWER timestamps and fresh event ids,
so every batch both inserts history rows and closes earlier ones — the
churn a real CDC feed carries), folded batch-by-batch into the
versioned SCD2 dim.  Per batch the operator pays one window over the
batch plus one full-outer join against the dim and a full dim rewrite,
so per-batch latency is EXPECTED to grow with dim size (the dim keeps
all history); the audit's job is to measure that slope and pin that
the growth is the O(dim) snapshot rewrite — the cost a transactional
table format's MERGE would amortize — and not something worse.
``keep_versions=2`` bounds state-dir disk to the two newest snapshots.

Correctness is checked against the batch ground truth: final ACTIVE
rows must equal the max-(ts, event_id) change per key over the whole
striped corpus, value-exact (count + anti-join both ways).

Output: one JSON line — paste the summary into PERF.md and commit as
bench_out/cdc_tp_<tag>_r<N>.json.

Usage: python scripts/cdc_throughput.py [sf_dir] [copies] [batches]
  sf_dir   source events table (default <repo>/.scratch/sf1)
  copies   change-feed multiplier over sf_dir's events (default 10)
  batches  feed files / micro-batches (default 10)
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        REPO, ".scratch", "sf1")
    copies = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    n_batches = int(sys.argv[3]) if len(sys.argv) > 3 else 10

    import pyspark.sql.functions as F

    from aws_etl_bank_spark.session import get_spark
    from aws_etl_bank_spark.sources.testdata import load_table
    from aws_etl_bank_spark.streaming.cdc import cdc_apply_scd2

    spark = get_spark("cdc_throughput")

    base = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value")

    # stripe c: same keys, ts shifted +c days, event_id offset by c*1e9 —
    # later stripes are strictly newer changes for every key, so each
    # decade batch closes earlier history rows AND appends new ones
    stripes = []
    for c in range(copies):
        stripes.append(base.select(
            (F.col("event_id") + c * 1_000_000_000).alias("event_id"),
            (F.col("ts") + F.expr(f"INTERVAL {c} DAYS")).alias("ts"),
            "user_id", "event_type", "value"))
    corpus = stripes[0]
    for s in stripes[1:]:
        corpus = corpus.unionByName(s)

    scratch = os.path.join(REPO, ".scratch",
                           "cdc_tp_%dx_%s" % (
                               copies,
                               os.path.basename(sf_dir.rstrip("/"))))
    from aws_etl_bank_spark.sources.testdata import write_ordered_feed

    # ts-ordered replay via the shared helper (not required for
    # correctness — the stale-change guard is order-invariant — but it
    # makes every batch churn); its staleness guard rebuilds the feed
    # when the source table regenerates, and the batch count is part
    # of the feed path for the same reason.
    feed = write_ordered_feed(
        corpus, os.path.join(scratch, "feed_%db" % n_batches),
        n_batches, ["ts", "event_id"],
        src_path=os.path.realpath(os.path.join(sf_dir, "events.parquet")))

    stream = (spark.readStream.schema(corpus.schema)
              .option("maxFilesPerTrigger", 1).parquet(feed))
    tag = int(time.time())
    state_dir = os.path.join(scratch, f"state_{tag}")

    lat: list[float] = []
    batch_rows: list[int] = []

    def observe(batch_id, n_rows, wall_s):
        batch_rows.append(n_rows)
        lat.append(wall_s)

    t0 = time.time()
    dim = cdc_apply_scd2(
        stream, state_dir, key="user_id",
        value_cols=["value", "event_type"],
        checkpoint=os.path.join(scratch, f"ck_{tag}"),
        keep_versions=2, observer=observe)
    wall = time.time() - t0

    rows = sum(batch_rows)
    # ground truth: max-(ts, event_id) change per key over the corpus
    from pyspark.sql import Window
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(),
                                              F.col("event_id").desc())
    truth = (corpus.withColumn("__rn", F.row_number().over(w))
             .filter("__rn = 1")
             .select("user_id", "event_type", F.round("value", 6).alias("v")))
    active = (dim.filter("is_active")
              .select("user_id", "event_type", F.round("value", 6).alias("v")))
    n_active = active.count()
    n_truth = truth.count()
    n_diff = (active.exceptAll(truth).count()
              + truth.exceptAll(active).count())
    n_history = dim.count()

    out = {
        "metric": "cdc_scd2_throughput",
        "sf_dir": sf_dir,
        "copies": copies,
        "rows": rows,
        "active_rows": n_active,
        "truth_rows": n_truth,
        "active_matches_truth": n_diff == 0,
        "dim_history_rows": n_history,
        "batches": len(lat),
        "wall_s": round(wall, 2),
        "rows_per_s": round(rows / wall, 1),
        "batch_latency_s": {
            "first": round(lat[0], 2) if lat else None,
            "median": round(sorted(lat)[len(lat) // 2], 2) if lat else None,
            "last": round(lat[-1], 2) if lat else None,
            "all": [round(x, 2) for x in lat],
        },
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
