"""Sustained-throughput audit for the watermarked tumbling-window
aggregation (stream_window_counts' operator) — the r18 sibling of
tws_throughput.py / incdedup / cdc decade audits (VERDICT r17 item 7).

Drives windowed_event_counts through a multi-batch availableNow load
(one parquet file per micro-batch) in UPDATE mode, so each batch pays
only the touched-window state-store traffic — the steady-state scale
posture.  The registry entry itself uses complete mode for the memory
sink + oracle; this audit measures the incremental machinery, which is
what a 100 TB deployment would run.  Output: one JSON line — paste the
row into PERF.md.

Usage: python scripts/wincounts_throughput.py [sf_dir] [batches]
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
    n_batches = int(sys.argv[2]) if len(sys.argv) > 2 else 10

    import pyspark.sql.functions as F

    from aws_etl_bank_spark.session import get_spark
    from aws_etl_bank_spark.sources.testdata import load_table
    from aws_etl_bank_spark.streaming import windowed_event_counts

    spark = get_spark("wincounts_throughput")
    spark.sparkContext.setLogLevel("WARN")

    events = load_table(spark, sf_dir, "events")
    total = events.count()
    per_batch = max(1, total // n_batches)

    # one parquet file per micro-batch (maxFilesPerTrigger=1), range-
    # partitioned + mtime-stamped by ts so the file source replays in
    # event-time order and the watermark advances monotonically — an
    # out-of-order replay makes the watermark drop whole batches
    from aws_etl_bank_spark.sources.testdata import write_ordered_feed
    scratch = os.path.join(REPO, ".scratch",
                           "wc_tp_" + os.path.basename(sf_dir.rstrip("/")))
    feed = os.path.join(scratch, "feed")
    write_ordered_feed(events, feed, n_batches, ["ts", "event_id"],
                       src_path=os.path.join(sf_dir, "events.parquet"))

    stream = (spark.readStream.schema(events.schema)
              .option("maxFilesPerTrigger", 1).parquet(feed))
    # watermarks need TimestampType; load_table may surface ts as NTZ
    # (same dtype guard as sources.testdata.events_stream)
    if dict(stream.dtypes).get("ts") == "timestamp_ntz":
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    agg = windowed_event_counts(stream, "6 hours", watermark="12 hours")
    ck = os.path.join(scratch, f"ck_{int(time.time())}")
    name = f"wc_tp_{int(time.time()) % 1_000_000}"
    t0 = time.time()
    q = (agg.writeStream.format("memory").queryName(name)
         .outputMode("update").option("checkpointLocation", ck)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    wall = time.time() - t0

    prog = q.recentProgress
    data_batches = [p for p in prog if p["numInputRows"] > 0]
    lat = [p["batchDuration"] / 1000.0 for p in data_batches]
    rows = sum(p["numInputRows"] for p in data_batches)
    # the update-mode memory sink keeps every emission; a group's
    # running count only grows, so its last emission is its max.  Check
    # groups AND counts against a batch groupBy over the same events
    # (ts cast as in the stream)
    last = (spark.table(name).groupBy("window_start", "event_type")
            .agg(F.max("n_events").alias("n_events")))
    truth = (events.withColumn("ts", F.col("ts").cast("timestamp"))
             .groupBy(F.window("ts", "6 hours")["start"].alias("window_start"),
                      "event_type")
             .agg(F.count("*").alias("n_events")))
    emitted = last.count()
    truth_groups = truth.count()
    count_mismatches = (last.exceptAll(truth).count()
                        + truth.exceptAll(last).count())
    out = {
        "metric": "windowed_event_counts_throughput",
        "sf_dir": sf_dir,
        "rows": rows,
        "batches": len(data_batches),
        "distinct_window_groups_emitted": emitted,
        "distinct_window_groups_truth": truth_groups,
        "groups_match": emitted == truth_groups,
        "count_mismatches": count_mismatches,
        "counts_match": count_mismatches == 0,
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
