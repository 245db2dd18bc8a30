"""Sustained-throughput measurement for the streaming incremental
MinHash dedup (r15 verdict task 5 — the decade-audit sibling of
scripts/tws_throughput.py, for a stateful surface whose state grows
with KEPT DOCUMENTS rather than touched keys).

The registry entry ``stream_incremental_dedup`` verifies correctness
on a 3-batch planted feed; this measures the steady-state machinery at
a decade up: an N-batch id-ordered document feed where every batch
carries (a) fresh unique docs that extend the persisted band index and
(b) exact copies of earlier batches' docs that the cross-batch index
join must reject.  Per batch the operator MinHashes the incoming
slice, joins its band rows against the PERSISTED index (which grows
linearly with kept docs), verifies candidates by exact text equality,
and appends survivors to corpus + index — so flat per-batch latency
demonstrates the index join stays bounded by the BATCH's band rows,
not the corpus's.

Output: one JSON line — paste the summary into PERF.md and commit as
bench_out/incdedup_tp_<tag>_r<N>.json.

Usage: python scripts/incdedup_throughput.py [sf_dir] [copies] [batches]
  sf_dir   source documents table (default <repo>/.scratch/sf1)
  copies   corpus multiplier over sf_dir's documents (default 10 — a
           decade up from the source, e.g. sf1 -> 500k docs)
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
    spark = get_spark("incdedup_throughput")

    base = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    # corpus = `copies` stripes of the base table: stripe c re-ids docs
    # at c*10M and makes texts UNIQUE per stripe ("v<c> " prefix) except
    # every 20th doc, which keeps stripe-0 text verbatim — an exact
    # duplicate that a LATER batch must reject against the persisted
    # index (ids order the feed, so stripe c>0 always arrives after the
    # stripe-0 original was kept).
    stripes = []
    for c in range(copies):
        s = base.select(
            (F.col("doc_id") + c * 10_000_000).alias("doc_id"),
            F.when(F.lit(c) > 0,
                   F.when(F.col("doc_id") % 20 == 0, F.col("text"))
                   .otherwise(F.concat(F.lit(f"v{c} "), F.col("text"))))
            .otherwise(F.col("text")).alias("text"))
        stripes.append(s)
    corpus = stripes[0]
    for s in stripes[1:]:
        corpus = corpus.unionByName(s)
    # ground truth for the kept count: first-arrival-wins exact dedup
    # keeps exactly one doc per distinct text.  Counted, not derived —
    # make_sf-upscaled sources carry verbatim cross-copy duplicates
    # INSIDE stripe 0, so a planted-dup formula would undercount.
    n_distinct_texts = corpus.select("text").distinct().count()

    scratch = os.path.join(REPO, ".scratch",
                           "incdedup_tp_%dx_%s" % (
                               copies,
                               os.path.basename(sf_dir.rstrip("/"))))
    from aws_etl_bank_spark.sources.testdata import write_ordered_feed

    # id-ordered replay (stripe-0 originals strictly before the copies)
    # via the shared helper, whose _SUCCESS-mtime staleness guard also
    # rebuilds the feed when the source table regenerates; the batch
    # count is part of the feed path for the same reason.
    feed = write_ordered_feed(
        corpus, os.path.join(scratch, "feed_%db" % n_batches),
        n_batches, ["doc_id"],
        src_path=os.path.realpath(
            os.path.join(sf_dir, "documents.parquet")))

    stream = (spark.readStream.schema(corpus.schema)
              .option("maxFilesPerTrigger", 1).parquet(feed))
    tag = int(time.time())
    state_dir = os.path.join(scratch, f"state_{tag}")

    # Drive the REAL operator (r16 review: an instrumented replica
    # would silently drift from shipped code); the observer hook feeds
    # per-batch rows + wall time back out of the foreachBatch body.
    from aws_etl_bank_spark.streaming.incremental_dedup import (
        stream_dedup_against_index)

    lat: list[float] = []
    batch_rows: list[int] = []

    def observe(batch_id, n_rows, wall_s):
        batch_rows.append(n_rows)
        lat.append(wall_s)

    t0 = time.time()
    kept = stream_dedup_against_index(
        stream, state_dir,
        checkpoint=os.path.join(scratch, f"ck_{tag}"),
        observer=observe)
    wall = time.time() - t0

    rows = sum(batch_rows)
    n_kept = kept.count()
    out = {
        "metric": "incremental_dedup_throughput",
        "sf_dir": sf_dir,
        "copies": copies,
        "rows": rows,
        "kept": n_kept,
        "expected_kept": n_distinct_texts,
        "kept_matches_expected": n_kept == n_distinct_texts,
        "rejected_dups": rows - n_kept,
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
