"""Sustained-throughput measurement for transformWithStateInPandas
(r12 verdict task 7): drive the running-totals TWS operator through a
rate-limited MULTI-BATCH load and pin the RocksDB checkpoint cost
curve — events/sec, per-micro-batch latency, and how both move as
state (distinct keys) grows.

The four registry TWS entries verify correctness; this measures the
steady-state machinery: per batch the operator round-trips two int64s
per touched key against the state server, and the checkpoint cost is
O(delta), so throughput should be flat across batches once the fixed
~1-2 s streaming overhead amortizes.  Output: one JSON line per run —
paste the summary row into PERF.md.

Usage: python scripts/tws_throughput.py [sf_dir] [batches] [rows_per_batch]
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    n_batches = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    per_batch = int(sys.argv[3]) if len(sys.argv) > 3 else 0  # 0 = auto

    import pyspark.sql.functions as F
    from pyspark.sql.window import Window

    from aws_etl_bank_spark.session import get_spark
    from aws_etl_bank_spark.sources.testdata import load_table
    from aws_etl_bank_spark.streaming.tws import (
        rocksdb_state_store, running_user_totals_tws)

    spark = get_spark("tws_throughput")

    events = load_table(spark, sf_dir, "events")
    total = events.count()
    if per_batch == 0:
        per_batch = max(1, total // n_batches)

    # one parquet file per micro-batch (maxFilesPerTrigger=1), ordered
    # feed so every run replays the same batch boundaries
    scratch = os.path.join(REPO, ".scratch",
                           "tws_tp_" + os.path.basename(sf_dir.rstrip("/")))
    feed = os.path.join(scratch, "feed")
    if not os.path.isdir(feed) or not [
            f for f in os.listdir(feed) if f.endswith(".parquet")]:
        (events.withColumn(
            "__b",
            (F.row_number().over(Window.orderBy("event_id")) - 1)
            / per_batch)
         .withColumn("__b", F.col("__b").cast("int"))
         .repartition("__b").write.mode("overwrite")
         .partitionBy("__b").parquet(feed))

    stream = (spark.readStream.schema(events.schema.add("__b", "integer"))
              .option("maxFilesPerTrigger", 1)
              .parquet(feed).drop("__b"))
    ck = os.path.join(scratch, f"ck_{int(time.time())}")
    name = f"tws_tp_{int(time.time()) % 1_000_000}"
    with rocksdb_state_store(spark):
        totals = running_user_totals_tws(stream)
        t0 = time.time()
        q = (totals.writeStream.format("memory").queryName(name)
             .outputMode("update").option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        q.awaitTermination()
        wall = time.time() - t0

    prog = q.recentProgress
    data_batches = [p for p in prog if p["numInputRows"] > 0]
    lat = [p["batchDuration"] / 1000.0 for p in data_batches]
    rows = sum(p["numInputRows"] for p in data_batches)
    keys = spark.table(name).select("user_id").distinct().count()
    out = {
        "metric": "tws_running_totals_throughput",
        "sf_dir": sf_dir,
        "rows": rows,
        "distinct_keys": keys,
        "batches": len(data_batches),
        "wall_s": round(wall, 2),
        "rows_per_s": round(rows / wall, 1),
        "batch_latency_s": {
            "first": round(lat[0], 2) if lat else None,
            "median": round(sorted(lat)[len(lat) // 2], 2) if lat else None,
            "last": round(lat[-1], 2) if lat else None,
        },
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
