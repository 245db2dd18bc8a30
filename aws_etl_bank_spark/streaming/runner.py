"""Structured-Streaming runners.

``for_each_batch`` reproduces the reference's micro-batch driver policy
(reference awsglue/context.py:602-664): requires windowSize (trigger
interval) + checkpointLocation, persists each batch, skips empty batches,
retries failed batches with 1/2/5s backoff up to batchMaxRetries (≤100,
default 3), and emits per-batch numRecords/latency metrics.

``run_to_memory`` is the one lifecycle for the engine's bounded
streams: it runs a query to completion (availableNow) into a
uniquely named memory sink, returns the sunk rows as a batch frame,
and on every exit path stops the query and drops the sink's view.

Beyond the reference (SURVEY.md §2.11 "Not present"): watermarked
tumbling/sliding/session window aggregations over the ``events`` table —
stock Structured Streaming, here as reusable plan builders so batch and
streaming share one definition.
"""

from __future__ import annotations

import time
import uuid

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel

_BACKOFF_SECONDS = [1, 2, 5]
MAX_BATCH_RETRIES = 100


def _parse_window_size(window_size: str) -> str:
    """Validate a '5 seconds'-style trigger interval (reference
    context.py:562-581 parses this into ms)."""
    parts = window_size.strip().split()
    if len(parts) != 2 or not parts[0].isdigit():
        raise ValueError(f"invalid windowSize {window_size!r}; expected e.g. '5 seconds'")
    return window_size


def for_each_batch(frame: DataFrame, batch_function, options: dict):
    """Run a streaming DataFrame through ``batch_function(df, batch_id)``
    micro-batch-wise with the reference's persist/skip/retry policy."""
    if "windowSize" not in options or "checkpointLocation" not in options:
        raise ValueError("forEachBatch requires windowSize and checkpointLocation")
    window_size = _parse_window_size(options["windowSize"])
    checkpoint = options["checkpointLocation"]
    max_retries = min(int(options.get("batchMaxRetries", 3)), MAX_BATCH_RETRIES)
    storage_level = options.get("persistStorageLevel", StorageLevel.MEMORY_AND_DISK)
    metrics: list[dict] = []

    def runner(batch_df: DataFrame, batch_id: int):
        start = time.time()
        batch_df.persist(storage_level)
        try:
            num_records = batch_df.count()
            if num_records == 0:
                return  # skip empty batches (reference context.py:634-638)
            attempt = 0
            while True:
                try:
                    batch_function(batch_df, batch_id)
                    break
                except Exception as e:
                    if type(e).__name__ == "CheckpointMetadataNotFound":
                        raise
                    if attempt >= max_retries:
                        raise
                    time.sleep(_BACKOFF_SECONDS[min(attempt, len(_BACKOFF_SECONDS) - 1)])
                    attempt += 1
            metrics.append(
                {"batchId": batch_id, "numRecords": num_records,
                 "latencySeconds": time.time() - start}
            )
        finally:
            batch_df.unpersist()

    writer = (
        frame.writeStream.foreachBatch(runner)
        .option("checkpointLocation", checkpoint)
    )
    if options.get("availableNow"):
        query = writer.trigger(availableNow=True).start()
        query.awaitTermination()
    else:
        query = writer.trigger(processingTime=window_size).start()
        timeout = options.get("timeoutSeconds")
        if timeout:
            query.awaitTermination(int(timeout))
            query.stop()
    return metrics


def run_to_memory(frame: DataFrame, mode: str,
                  checkpoint: str | None = None) -> DataFrame:
    """Run a bounded streaming ``frame`` to completion (availableNow)
    into a memory sink in output ``mode`` and return the sunk rows.

    The query gets a unique name, and is stopped and its view dropped
    on every exit path, so a run leaves no active query and no table
    behind.  The returned frame holds the analyzed sink scan, not the
    view name, so it (and anything built on it) still reads the rows
    after the drop."""
    spark = frame.sparkSession
    name = f"mem_{uuid.uuid4().hex}"
    writer = (frame.writeStream.format("memory").queryName(name)
              .outputMode(mode))
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", checkpoint)
    query = writer.trigger(availableNow=True).start()
    try:
        query.awaitTermination()
        return spark.table(name)
    finally:
        query.stop()
        spark.catalog.dropTempView(name)


def sample_streaming_frame(spark: SparkSession, frame: DataFrame, options: dict,
                           batch_function=None) -> DataFrame:
    """Reference context.py:553-599: run the stream into an in-memory
    table, poll up to recordPollingLimit rows, stop, return a batch frame."""
    window_size = _parse_window_size(options.get("windowSize", "1 seconds"))
    polling_ms = int(options.get("pollingTimeInMs", 10000))
    limit = int(options.get("recordPollingLimit", 100))
    # Not run_to_memory: the reference polls a processingTime query
    # until the row limit or the deadline, whichever comes first, so
    # the stream need not be bounded.
    table = f"sample_stream_{uuid.uuid4().hex}"
    query = (
        frame.writeStream.format("memory").queryName(table)
        .trigger(processingTime=window_size).start()
    )
    deadline = time.time() + polling_ms / 1000.0
    try:
        while time.time() < deadline:
            if spark.sql(f"select * from {table} limit {limit}").count() >= limit:
                break
            time.sleep(0.2)
        out = spark.sql(f"select * from {table} limit {limit}")
        rows = out.collect()
    finally:
        query.stop()
        spark.catalog.dropTempView(table)
    if batch_function is not None and rows:
        batch_function(spark.createDataFrame(rows, out.schema))
    return spark.createDataFrame(rows, out.schema)


# ---------------------------------------------------------------------------
# Windowed aggregation plans (exceed-reference: SURVEY.md §2.11)
# ---------------------------------------------------------------------------


def windowed_event_counts(events: DataFrame, window: str = "1 hour",
                          watermark: str = "2 hours", slide: str | None = None,
                          ts_col: str = "ts") -> DataFrame:
    """Tumbling (or sliding) watermarked window over the events stream.
    Works identically on a batch DataFrame (watermark is a no-op there),
    so the DuckDB oracle can check it with time_bucket."""
    df = events
    if df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    win = F.window(ts_col, window, slide) if slide else F.window(ts_col, window)
    return (
        df.groupBy(win.alias("w"), F.col("event_type"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type", "n_events", "sum_value",
        )
    )
