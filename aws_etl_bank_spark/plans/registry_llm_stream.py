"""LLM registry part 2: streaming, curation pipeline, as-of/range
joins, BM25, CDC, semantic dedup, fuzzy entity resolution (formerly
registry_llm.py lines 973-2615).  Pure mechanical move — see part 1's
docstring for the split contract.
"""

from __future__ import annotations

import pyspark.sql.functions as F  # noqa: F401
from pyspark.sql import Window  # noqa: F401

from aws_etl_bank_spark.plans.registry import _scratch_run, q  # noqa: F401
from aws_etl_bank_spark.streaming import run_to_memory
from aws_etl_bank_spark.streaming.tws import rocksdb_state_store
from aws_etl_bank_spark.sources.testdata import (  # noqa: F401
    events_stream, load_table)
from aws_etl_bank_spark.plans.registry_llm_corpus import (  # noqa: F401
    _ANN_K, _ANN_TOPK_INVARIANT_ORACLE, _EN, _ann_topk_invariants)

# ===========================================================================
# Streaming (SURVEY.md §2.11)
# ===========================================================================


def _events_stream_dir(sf_dir: str) -> str:
    """Spark's file stream source needs a directory; expose events.parquet
    through a scratch dir symlink."""
    import os

    from aws_etl_bank_spark.plans.registry import _scratch

    d = _scratch(sf_dir, "events_stream/ignored").rsplit("/", 1)[0]
    link = os.path.join(d, "events.parquet")
    # absolute target: a relative sf_dir would otherwise create a link
    # that resolves relative to the link's OWN directory (broken), and
    # os.path.exists follows links — so the broken link looked absent
    # and the re-create crashed with FileExistsError (sf1 audit, r5)
    target = os.path.abspath(os.path.join(sf_dir, "events.parquet"))
    if os.path.lexists(link) and os.path.realpath(link) != os.path.realpath(target):
        os.remove(link)
    if not os.path.lexists(link):
        os.symlink(target, link)
    return d


@q("stream_window_counts", """
SELECT CAST(time_bucket(INTERVAL '6 hours', ts) AS TIMESTAMP) AS window_start,
       event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(SUM(value), 2) AS sum_value
FROM events GROUP BY 1, 2""")
def stream_window_counts(spark, sf_dir):
    """Watermarked tumbling-window aggregation executed as a real
    Structured Streaming query (availableNow → memory sink), so the
    streaming path itself is under the correctness gate."""
    from aws_etl_bank_spark.streaming import windowed_event_counts

    stream = events_stream(spark, _events_stream_dir(sf_dir))
    agg = windowed_event_counts(stream, "6 hours", watermark="12 hours")
    return run_to_memory(agg, "complete")


@q("stream_sessionize", """
WITH o AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
              OR ts - lag(ts) OVER w >= INTERVAL '6 hours' THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
g AS (
  SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM o
)
SELECT user_id,
       CAST(min(ts) AS TIMESTAMP) AS session_start,
       CAST(max(ts) + INTERVAL '6 hours' AS TIMESTAMP) AS session_end,
       CAST(count(*) AS BIGINT) AS n_events,
       ROUND(SUM(value), 2) AS sum_value
FROM g GROUP BY user_id, sid""")
def stream_sessionize(spark, sf_dir):
    """Gap-based sessionization via the built-in ``session_window``
    (batch mode here — deterministic and oracle-checkable as a
    gaps-and-islands query; the streaming path of the same operator is
    exercised in tests with a watermark)."""
    from aws_etl_bank_spark.streaming import session_stats

    events = load_table(spark, sf_dir, "events")
    return session_stats(events, gap="6 hours")


@q("stream_stateful_counts", """
SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
FROM events GROUP BY user_id""")
def stream_stateful_counts(spark, sf_dir):
    """Custom stateful operator (applyInPandasWithState) run as a REAL
    streaming query: per-user running counts carried in GroupState across
    micro-batches, update-mode memory sink.  The cumulative count is
    batch-partitioning-invariant — max per user == total — so the result
    is oracle-checkable despite the streaming execution."""
    from aws_etl_bank_spark.streaming import stateful_user_counts

    stream = events_stream(spark, _events_stream_dir(sf_dir))
    return (
        run_to_memory(stateful_user_counts(stream), "update")
        .groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"))
    )


@q("stream_tws_running_totals", """
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS cents
FROM events GROUP BY user_id""")
def stream_tws_running_totals(spark, sf_dir):
    """transformWithStateInPandas (Spark 4's arbitrary-stateful API,
    streaming/tws.py) run as a REAL streaming query: per-user running
    (count, cents) pairs in RocksDB-backed ValueState carried across
    micro-batches, update-mode memory sink.  Unblocked in r12 by the
    from-scratch vendored protobuf runtime
    (aws_etl_bank_spark/vendor/google/protobuf — the state protocol's
    wire format implemented from the public spec); the JVM state
    server parses our bytes with real protobuf, so this entry
    hash-checks the whole protocol.  Cumulative totals are
    batch-split-invariant: the final emitted row per user (max
    n_events) equals the batch aggregate.  State lives in the store —
    per key only two int64s round-trip per batch — so state scales
    with keys, not events: the 100 TB unbounded-stream shape."""
    from aws_etl_bank_spark.streaming.tws import running_user_totals_tws

    with rocksdb_state_store(spark):
        stream = events_stream(spark, _events_stream_dir(sf_dir))
        sunk = run_to_memory(running_user_totals_tws(stream), "update")
    return (sunk.groupBy("user_id")
            .agg(F.max("n_events").alias("n_events"),
                 F.max_by("cents", "n_events").alias("cents")))


@q("stream_pyds_shard_source", """
WITH c AS (
  SELECT user_id, CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events)
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(cents) AS BIGINT) AS cents
FROM c GROUP BY user_id""")
def stream_pyds_shard_source(spark, sf_dir):
    """Custom PYTHON STREAMING source (Spark 4
    ``DataSourceStreamReader``, sources/pyds_stream.py) — the
    Kinesis-shaped shard/offset contract without the connector jar:
    events split into 4 ordered shards; ``latestOffset`` rate-limits
    each shard per micro-batch (so the run takes multiple batches and
    really exercises offset planning + commit), executors read ONLY
    their shard's row slice via pyarrow, and the memory sink must
    receive every record exactly once.  The per-user totals over the
    sink equal the batch aggregate — delivery bugs (loss, dupes,
    slice misalignment) fail the hash."""
    import time as _time
    import uuid

    from aws_etl_bank_spark.plans.registry import _scratch
    from aws_etl_bank_spark.sources.pyds_stream import (
        ShardedStreamDataSource, prepare_shards)

    spark.dataSource.register(ShardedStreamDataSource)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
        .alias("cents"))
    path = _scratch(sf_dir, "pyds_stream_shards")
    total = prepare_shards(ev, path, shards=4, order_col="event_id")

    stream = (spark.readStream.format("sharded_stream")
              .option("path", path)
              .option("schema_ddl",
                      "event_id bigint, user_id bigint, cents bigint")
              # ~3 micro-batches per shard at any SF
              .option("maxRecordsPerBatch",
                      max(1, total // 4 // 3 + 1))
              .load())
    # Not run_to_memory: the rate-limited processingTime batches are
    # what exercise the shard offset contract, so this stays a
    # multi-batch run that is polled until every record has landed.
    name = f"pyds_shard_{uuid.uuid4().hex}"
    query = (stream.writeStream.format("memory").queryName(name)
             .outputMode("append")
             .trigger(processingTime="1 seconds").start())
    try:
        deadline = _time.time() + 300
        while _time.time() < deadline:
            if spark.table(name).count() >= total:
                break
            _time.sleep(0.5)
        sunk = spark.table(name)
    finally:
        query.stop()
        spark.catalog.dropTempView(name)
    return (sunk.groupBy("user_id")
            .agg(F.count("*").alias("n_events"),
                 F.sum("cents").alias("cents")))


@q("stream_pyds_manifest_sink", """
WITH c AS (
  SELECT user_id, CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events)
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(cents) AS BIGINT) AS cents
FROM c GROUP BY user_id""")
def stream_pyds_manifest_sink(spark, sf_dir):
    """Custom PYTHON STREAMING SINK (Spark 4
    ``DataSourceStreamWriter``, sources/pyds_stream.py
    ManifestStreamWriter): the events stream lands in the
    manifest-committing sink — tasks stage jsonl files, the driver
    publishes an atomic per-batch manifest only after every task
    succeeded — and the verification reads back ONLY manifest-listed
    files.  Exactly-once all-or-nothing batch publication is the
    hash-checked property: per-user totals over the sink must equal
    the batch aggregate."""
    from aws_etl_bank_spark.sources.pyds_stream import (
        ShardedStreamDataSource, read_manifest_sink)

    spark.dataSource.register(ShardedStreamDataSource)
    stream = events_stream(spark, _events_stream_dir(sf_dir)).select(
        "event_id", "user_id",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
        .alias("cents"))
    sink = _scratch_run(sf_dir, "pyds_manifest_sink")
    ck = _scratch_run(sf_dir, "pyds_manifest_ck")
    q = (stream.writeStream.format("sharded_stream")
         .option("path", sink).option("checkpointLocation", ck)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    back = read_manifest_sink(
        spark, sink, "event_id bigint, user_id bigint, cents bigint")
    return (back.groupBy("user_id")
            .agg(F.count("*").alias("n_events"),
                 F.sum("cents").alias("cents")))


@q("stream_tws_minmax_rows", """
WITH c AS (
  SELECT user_id, CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events)
SELECT user_id, MIN(cents) AS lo, MAX(cents) AS hi,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM c GROUP BY user_id""")
def stream_tws_minmax_rows(spark, sf_dir):
    """ROW-based ``transformWithState`` (streaming/tws.py
    user_minmax_tws_rows) — the non-pandas twin of
    transformWithStateInPandas, same RocksDB state machinery with Row
    iterators at the Python boundary: per-user running (min, max,
    count).  Completes the TWS API matrix next to the three pandas
    entries; same max-marker final-state contract."""
    from aws_etl_bank_spark.streaming.tws import user_minmax_tws_rows

    with rocksdb_state_store(spark):
        stream = events_stream(spark, _events_stream_dir(sf_dir))
        sunk = run_to_memory(user_minmax_tws_rows(stream), "update")
    return (sunk.groupBy("user_id")
            .agg(F.max_by("lo", "n_events").alias("lo"),
                 F.max_by("hi", "n_events").alias("hi"),
                 F.max("n_events").alias("n_events")))


@q("stream_tws_topk_list", """
WITH c AS (
  SELECT user_id, CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events),
r AS (
  SELECT user_id, cents,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY cents DESC) AS rnk
  FROM c)
SELECT user_id, CAST(rnk AS BIGINT) AS rank, cents
FROM r WHERE rnk <= 3""")
def stream_tws_topk_list(spark, sf_dir):
    """transformWithState ListState surface (streaming/tws.py
    user_topk_values_tws): the per-user running top-3 cents list lives
    in RocksDB ListState (O(k) state per key), each batch re-emits the
    current top-k with a strictly-increasing n_seen marker, and the
    max-n_seen rows are the final top-k — batch-split-invariant.  The
    (rank, cents) pairs are deterministic under ties (equal values get
    consecutive ranks), so the DuckDB row_number oracle hash-matches
    despite its arbitrary tie ordering."""
    from pyspark.sql import Window as W

    from aws_etl_bank_spark.streaming.tws import user_topk_values_tws

    with rocksdb_state_store(spark):
        stream = events_stream(spark, _events_stream_dir(sf_dir))
        sunk = run_to_memory(user_topk_values_tws(stream, k=3), "update")
    mx = F.max("n_seen").over(W.partitionBy("user_id"))
    return (sunk.withColumn("_mx", mx)
            .where(F.col("n_seen") == F.col("_mx"))
            .select("user_id", "rank", "cents"))


@q("stream_tws_type_counts_map", """
SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n
FROM events GROUP BY user_id, event_type""")
def stream_tws_type_counts_map(spark, sf_dir):
    """transformWithState MapState surface (streaming/tws.py
    user_type_counts_tws): per-(user, event_type) running counts in
    RocksDB MapState updated via getValue/updateValue, read back each
    batch through the PAGED map iterator protocol
    (StateResponseWithMapIterator) — the deepest exercise of the
    vendored protobuf codec.  Each batch emits the user's whole
    current map with an n_seen marker; max-n_seen rows per user are
    the final counts, batch-split-invariant."""
    from pyspark.sql import Window as W

    from aws_etl_bank_spark.streaming.tws import user_type_counts_tws

    with rocksdb_state_store(spark):
        stream = events_stream(spark, _events_stream_dir(sf_dir))
        sunk = run_to_memory(user_type_counts_tws(stream), "update")
    mx = F.max("n_seen").over(W.partitionBy("user_id"))
    return (sunk.withColumn("_mx", mx)
            .where(F.col("n_seen") == F.col("_mx"))
            .select("user_id", "event_type", "n"))


@q("stream_foreach_batch", """
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n, ROUND(SUM(value), 2) AS sv
FROM events GROUP BY event_type""")
def stream_foreach_batch(spark, sf_dir):
    """forEachBatch micro-batch driver with persist/skip/retry policy
    (context.py:602-664).  Per-batch aggregates (kept UN-rounded per
    batch) roll up to batch-split-invariant per-type totals, so the result
    is oracle-checkable even though execution is micro-batched; the
    per-batch behavior itself is asserted in tests/test_streaming.py."""
    import pyspark.sql.types as T

    from aws_etl_bank_spark.streaming import for_each_batch

    stream = events_stream(spark, _events_stream_dir(sf_dir))
    collected: list = []

    def handle(batch_df, batch_id):
        rows = batch_df.groupBy("event_type").agg(
            F.count("*").alias("n"), F.sum("value").alias("sv")
        ).collect()
        collected.extend([(batch_id, r["event_type"], r["n"], r["sv"]) for r in rows])

    for_each_batch(stream, handle, {
        "windowSize": "1 seconds",
        # fresh checkpoint per run — a reused checkpoint would mark the
        # input files processed and yield an empty second run
        "checkpointLocation": _scratch_run(sf_dir, "feb_ckpt"),
        "availableNow": True,
    })
    schema = T.StructType([
        T.StructField("batch_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("n", T.LongType()),
        T.StructField("sv", T.DoubleType()),
    ])
    per_batch = spark.createDataFrame(collected, schema)
    return per_batch.groupBy("event_type").agg(
        F.sum("n").alias("n"), F.round(F.sum("sv"), 2).alias("sv")
    )


@q("stream_sample_poll", """
SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type""")
def stream_sample_poll(spark, sf_dir):
    """Streaming sample (§2 row 77): sample_streaming_frame runs the
    events file stream into a memory sink and polls until
    recordPollingLimit rows arrive (reference context.py:553-599); the
    poll limit is set to the full table count so the sampled batch frame
    is deterministic and oracle-comparable after aggregation."""
    from aws_etl_bank_spark.streaming.runner import sample_streaming_frame

    stream_dir = _events_stream_dir(sf_dir)
    total = load_table(spark, sf_dir, "events").count()
    stream = events_stream(spark, stream_dir)
    sampled = sample_streaming_frame(
        spark, stream,
        {"windowSize": "1 seconds", "pollingTimeInMs": 60000,
         "recordPollingLimit": total})
    return sampled.groupBy("event_type").agg(F.count("*").alias("n"))


def _curation_oracle() -> str:
    """DuckDB mirror of the end-to-end curation pipeline: language-ID →
    quality score → filter → exact dedup, matching each stage's existing
    single-op oracle exactly."""
    from aws_etl_bank_spark.llm.text import STOPWORD_PROFILES

    entries = []
    for lang, profile in sorted(STOPWORD_PROFILES.items()):
        in_list = ", ".join(f"'{w}'" for w in profile)
        entries.append(
            "{'score': round(len(list_filter(words, x -> x IN (" + in_list
            + "))) / CAST(len(words) AS DOUBLE), 6), 'lang': '" + lang + "'}"
        )
    structs = ",\n      ".join(entries)
    return rf"""
WITH w AS (
  SELECT doc_id, text, string_split_regex(lower(text), '\s+') AS words,
         length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS n_punct
  FROM documents
),
lang AS (
  SELECT doc_id, text, words, n_punct,
         list_max([
      {structs}
    ]) AS best
  FROM w
),
s AS (
  SELECT doc_id, text, best.lang AS predicted_lang,
         CAST(len(words) AS BIGINT) AS n_tokens,
         round(n_punct / CAST(length(text) AS DOUBLE), 4) AS punct_ratio,
         round(len(list_filter(words, x -> x IN {_EN})) / CAST(len(words) AS DOUBLE), 4)
             AS stopword_ratio
  FROM lang
),
qual AS (
  SELECT doc_id, text, predicted_lang, n_tokens,
         round((least(n_tokens / 100.0, 1.0) * 0.5 + least(stopword_ratio * 5.0, 1.0) * 0.3)
               * greatest(0.0, 1.0 - punct_ratio * 5.0)
               + 0.2 * greatest(0.0, 1.0 - punct_ratio * 5.0) + 0.000000001, 4) AS quality
  FROM s
)
SELECT MIN(doc_id) AS keep_id, CAST(COUNT(*) AS BIGINT) AS dup_count,
       MAX(quality) AS quality, MAX(n_tokens) AS n_tokens
FROM qual
WHERE predicted_lang = 'en' AND quality >= 0.5
GROUP BY text"""


@q("llm_curation_pipeline", _curation_oracle())
def llm_curation_pipeline(spark, sf_dir):
    """End-to-end training-data curation: language-ID → quality score →
    keep high-quality English → exact dedup (lowest doc_id survives, with
    duplicate counts).  One declarative flow: the language/quality stages
    are map-only column expressions over a single documents scan, and the
    dedup is one hash aggregation on the content — at 100 TB this is one
    shuffle total."""
    from aws_etl_bank_spark.llm import language_id, quality_score

    docs = load_table(spark, sf_dir, "documents")
    scored = quality_score(language_id(docs))
    kept = scored.filter((F.col("predicted_lang") == "en") & (F.col("quality") >= 0.5))
    return kept.groupBy("text").agg(
        F.min("doc_id").alias("keep_id"),
        F.count(F.lit(1)).alias("dup_count"),
        F.max("quality").alias("quality"),
        F.max("n_tokens").alias("n_tokens"),
    ).drop("text")


@q("ann_ivf_trained_topk", _ANN_TOPK_INVARIANT_ORACLE)
def ann_ivf_trained_topk(spark, sf_dir):
    """IVF top-k with k-means|| trained centroids (the scale path's real
    configuration): distributed training returns only n_cells centers to
    the driver; the corpus shuffles once on cell id.  Converted from
    rows-only to the shape-contract invariant oracle (r15, see
    ``_ann_topk_invariants``); the training job itself still runs under
    the driver gate, and recall vs brute force is measured in PERF.md."""
    from aws_etl_bank_spark.llm import ivf_topk
    from aws_etl_bank_spark.llm.similarity import train_centroids

    emb = load_table(spark, sf_dir, "embeddings")
    cents = train_centroids(emb, n_cells=16, seed=7)
    out = ivf_topk(emb, emb.filter("vec_id < 5"), _ANN_K,
                   n_cells=16, nprobe=4, centroids=cents)
    return _ann_topk_invariants(
        out, emb.select("vec_id"), _ANN_K, "cosine",
        F.col("cosine").between(-1.0, 1.0))


@q("text_chunking", r"""
WITH w AS (
  SELECT doc_id, string_split_regex(lower(text), '\s+') AS words FROM documents
),
c AS (
  SELECT doc_id, len(words) AS n, words,
         unnest(range(1, greatest(len(words) - 8, 1) + 1, 56)) AS s
  FROM w
)
SELECT doc_id,
       CAST((s - 1) // 56 AS BIGINT) AS chunk_index,
       array_to_string(words[CAST(s AS INT):CAST(least(s + 63, n) AS INT)], ' ') AS chunk_text,
       CAST(least(n - s + 1, 64) AS BIGINT) AS chunk_tokens
FROM c""")
def text_chunking(spark, sf_dir):
    """Token-budget document chunking with overlap (64-word chunks,
    8-word overlap): the sequence-packing precursor of a training
    pipeline, as pure sequence/slice expressions."""
    from aws_etl_bank_spark.llm.text import chunk_documents

    docs = load_table(spark, sf_dir, "documents")
    return chunk_documents(docs, chunk_words=64, overlap_words=8)


@q("text_pii_scrub", r"""
WITH a AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0 THEN text || ' contact bob@example.com'
              WHEN doc_id % 7 = 1 THEN text || ' call 555-123-4567'
              WHEN doc_id % 7 = 2 THEN text || ' from 192.168.10.42'
              ELSE text END AS text
  FROM documents)
SELECT doc_id,
  regexp_replace(regexp_replace(regexp_replace(text,
    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
    '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '<PHONE>', 'g') AS text_scrubbed,
  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
  CAST(len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips,
  CAST(len(regexp_extract_all(text, '\b\d{3}[-.]\d{3}[-.]\d{4}\b')) AS BIGINT) AS n_phones
FROM a""")
def text_pii_scrub(spark, sf_dir):
    """PII redaction (emails / IPv4s / phones) with per-category counts.
    The testdata corpus carries no PII, so deterministic cases are
    planted by doc_id — identically in Spark and the oracle — before the
    scrub runs.  Map-only regexp chain; scan-speed at any scale."""
    from aws_etl_bank_spark.llm.text import pii_scrub

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" contact bob@example.com")))
        .when(F.col("doc_id") % 7 == 1, F.concat(F.col("text"), F.lit(" call 555-123-4567")))
        .when(F.col("doc_id") % 7 == 2, F.concat(F.col("text"), F.lit(" from 192.168.10.42")))
        .otherwise(F.col("text")).alias("text"),
    )
    return pii_scrub(docs).select(
        "doc_id", "text_scrubbed", "n_emails", "n_ips", "n_phones")


@q("text_repetition", r"""
WITH a AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN text || chr(10) || text
              WHEN doc_id % 3 = 1 THEN text || chr(10) || 'tail ' || doc_id
              ELSE text END AS text
  FROM documents),
w AS (SELECT doc_id, string_split(text, chr(10)) AS lines,
             string_split_regex(lower(text), '\s+') AS words FROM a)
SELECT doc_id,
  CAST(len(lines) AS BIGINT) AS n_lines,
  round(1.0 - len(list_distinct(lines)) / CAST(len(lines) AS DOUBLE) + 0.000000001, 4) AS dup_line_frac,
  round(list_sum(list_transform(lines, x -> CASE WHEN len(list_filter(lines, y -> y = x)) > 1 THEN length(x) ELSE 0 END))
        / CAST(nullif(list_sum(list_transform(lines, x -> length(x))), 0) AS DOUBLE) + 0.000000001, 4) AS dup_line_char_frac,
  round(1.0 - len(list_distinct(words)) / CAST(len(words) AS DOUBLE) + 0.000000001, 4) AS dup_word_frac
FROM w""")
def text_repetition(spark, sf_dir):
    """Gopher-style repetition signals (duplicate-line and duplicate-word
    fractions).  The corpus is single-line, so multi-line shapes are
    planted by doc_id — a fully duplicated line for one third, a unique
    tail line for another — identically in Spark and the oracle."""
    from aws_etl_bank_spark.llm.text import repetition_signals

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.col("doc_id") % 3 == 0,
               F.concat(F.col("text"), F.lit("\n"), F.col("text")))
        .when(F.col("doc_id") % 3 == 1,
              F.concat(F.col("text"), F.lit("\ntail "), F.col("doc_id").cast("string")))
        .otherwise(F.col("text")).alias("text"),
    )
    return repetition_signals(docs).select(
        "doc_id", "n_lines", "dup_line_frac", "dup_line_char_frac", "dup_word_frac")


@q("stratified_sample_lang", """
SELECT doc_id, lang FROM (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rk
  FROM documents) t WHERE rk <= 20""")
def stratified_sample_lang(spark, sf_dir):
    """Deterministic per-language quota sample (first 20 doc_ids per
    language): the corpus-balancing step of a data pipeline, one window
    shuffle on the stratum key."""
    from aws_etl_bank_spark.llm.text import stratified_sample

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return stratified_sample(docs, "lang", 20, order_col="doc_id")


@q("text_decontaminate", r"""
WITH w AS (
  SELECT doc_id, string_split_regex(lower(text), '\s+') AS words FROM documents
),
s AS (
  SELECT doc_id, unnest(
    CASE WHEN len(words) >= 3 THEN
      list_distinct([array_to_string(words[CAST(i AS INT):CAST(i + 2 AS INT)], ' ')
                     for i in range(1, len(words) - 1)])
    ELSE [array_to_string(words, ' ')] END) AS sh
  FROM w
),
bench AS (SELECT DISTINCT sh FROM s WHERE doc_id % 97 = 0),
sizes AS (SELECT doc_id, count(*) AS sz FROM s GROUP BY doc_id),
m AS (SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_matched
      FROM s JOIN bench USING (sh) GROUP BY s.doc_id)
SELECT d.doc_id,
       COALESCE(n_matched, 0) AS n_matched_ngrams,
       COALESCE(round(n_matched / CAST(sz AS DOUBLE) + 0.000000001, 4), 0.0) AS matched_frac,
       COALESCE(round(n_matched / CAST(sz AS DOUBLE) + 0.000000001, 4), 0.0) >= 0.5 AS contaminated
FROM documents d
JOIN sizes USING (doc_id)
LEFT JOIN m USING (doc_id)""")
def text_decontaminate(spark, sf_dir):
    """Benchmark decontamination: every corpus document scored by its
    distinct-3-gram overlap against a planted 6-doc "benchmark" (doc_id %
    97 = 0 — the benchmark docs themselves plus their near-dups cross the
    0.5 matched-fraction flag; unrelated docs keep incidental low
    fractions).  Broadcast benchmark-shingle semi-join + one hash agg."""
    from aws_etl_bank_spark.llm import decontaminate

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    return decontaminate(docs, bench, shingle_n=3, frac_threshold=0.5).select(
        "doc_id", "n_matched_ngrams", "matched_frac", "contaminated")


@q("token_budget_mix", r"""
WITH t AS (
  SELECT doc_id, source,
         CAST(len(string_split_regex(lower(text), '\s+')) AS BIGINT) AS doc_tokens
  FROM documents),
c AS (
  SELECT doc_id, source, doc_tokens,
         CAST(sum(doc_tokens) OVER (PARTITION BY source ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
  FROM t)
SELECT doc_id, source, doc_tokens, cum_tokens
FROM c WHERE cum_tokens - doc_tokens < 600""")
def token_budget_mix(spark, sf_dir):
    """Token-budget corpus mixing: per source, keep documents (by doc_id)
    until a 600-token budget is reached — the per-source quota step of a
    training-mix assembly.  One window shuffle on the stratum key."""
    from aws_etl_bank_spark.llm import token_budget_sample

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    return token_budget_sample(docs, "source", 600).select(
        "doc_id", "source", "doc_tokens", "cum_tokens")


@q("join_asof_purchase", """
SELECT l.event_id, l.user_id, l.ts,
       r.ts AS purchase_ts, r.value AS purchase_value
FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') l
ASOF LEFT JOIN
     (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') r
ON l.user_id = r.user_id AND l.ts >= r.ts""")
def join_asof_purchase(spark, sf_dir):
    """As-of join (operators/joins.py): each click picks up the latest
    purchase at-or-before it per user — attribution, the canonical
    event-stream enrichment.  Beyond-reference (the reference has only
    equi-joins); checked against DuckDB's native ASOF JOIN.  Union +
    keyed window: ONE exchange, no join node (asserted in
    tests/test_joins.py)."""
    from aws_etl_bank_spark.operators.joins import asof_join

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value")
    return asof_join(clicks, purchases, on="user_id", left_ts="ts").select(
        "event_id", "user_id", "ts",
        F.col("ts_r").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )


@q("join_asof_bucketed", """
SELECT l.event_id, l.user_id, l.ts,
       r.ts AS purchase_ts, r.value AS purchase_value
FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') l
ASOF LEFT JOIN
     (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') r
ON l.user_id = r.user_id AND l.ts >= r.ts""")
def join_asof_bucketed(spark, sf_dir):
    """The hot-key-splitting as-of variant: same attribution query as
    join_asof_purchase but with ``coarse_bucket_seconds`` set, so the
    window partitions by (user, day-bucket) and carries each bucket's
    final purchase forward — identical results (same DuckDB ASOF
    oracle), parallel within a hot user.  The 100 TB answer to "one
    user is 10% of the stream" (operators/joins.py)."""
    from aws_etl_bank_spark.operators.joins import asof_join

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value")
    return asof_join(clicks, purchases, on="user_id", left_ts="ts",
                     coarse_bucket_seconds=86400.0).select(
        "event_id", "user_id", "ts",
        F.col("ts_r").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )


@q("join_range_bands", """
SELECT c_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders,
       MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price
FROM customer c JOIN orders o
  ON o.o_totalprice BETWEEN c.c_acctbal * 50 - 500 AND c.c_acctbal * 50 + 500
GROUP BY c_custkey""")
def join_range_bands(spark, sf_dir):
    """Range join (operators/joins.py): order prices matched into
    per-customer price bands — a point-in-interval join with NO equi
    key, which raw Spark plans as BroadcastNestedLoop (quadratic at
    scale).  The operator bucketizes both sides (width 1000 ~ the band
    width) and equi-joins on the bucket id; DuckDB's IEJoin is the
    oracle.  No-nested-loop plan asserted in tests/test_joins.py."""
    from aws_etl_bank_spark.operators.joins import range_join

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        (F.col("c_acctbal") * 50 - 500).alias("lo"),
        (F.col("c_acctbal") * 50 + 500).alias("hi"),
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice")
    return (
        range_join(orders, cust, "o_totalprice", "lo", "hi",
                   bucket_width=1000.0)
        .groupBy("c_custkey")
        .agg(F.count("*").cast("long").alias("n_orders"),
             F.min("o_totalprice").alias("min_price"),
             F.max("o_totalprice").alias("max_price"))
    )


@q("dedup_lines_c4", r"""
WITH a AS (
  SELECT doc_id,
         'COMMON HEADER' || chr(10) || text || chr(10) || 'footer ' || (doc_id % 5) AS text
  FROM documents),
s AS (SELECT doc_id, string_split(text, chr(10)) AS arr FROM a),
l AS (SELECT doc_id, unnest([{'pos': i, 'line': arr[i]}
                             for i in range(1, len(arr) + 1)]) AS pl FROM s),
f AS (SELECT doc_id, pl.pos AS pos, pl.line AS line FROM l),
k AS (SELECT doc_id, pos, line,
             row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rn
      FROM f WHERE length(line) >= 1),
kept AS (SELECT doc_id, pos, line FROM k WHERE rn = 1
         UNION ALL
         SELECT doc_id, pos, line FROM f WHERE length(line) < 1),
reb AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text2,
               CAST(COUNT(*) AS BIGINT) AS n_kept
        FROM kept GROUP BY doc_id)
SELECT a.doc_id, coalesce(reb.text2, '') AS text,
       CAST(len(string_split(a.text, chr(10))) AS BIGINT) AS n_lines,
       CAST(coalesce(reb.n_kept, 0) AS BIGINT) AS n_kept
FROM a LEFT JOIN reb USING (doc_id)""")
def dedup_lines_c4(spark, sf_dir):
    """C4/CCNet-style corpus-wide line dedup: every distinct line
    survives only at its first (doc_id, pos) occurrence; documents are
    reassembled from their surviving lines.  The corpus is single-line,
    so cross-document duplicates are planted identically in Spark and
    the oracle: a header shared by every document and one of five
    rotating footers.  Winner-per-line is min(struct(id, pos)) — hash
    agg with map-side combine, hub-line safe (no per-line window sort;
    asserted in tests/test_llm.py)."""
    from aws_etl_bank_spark.llm import line_dedup

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(F.lit("COMMON HEADER\n"), F.col("text"),
                 F.lit("\nfooter "),
                 (F.col("doc_id") % 5).cast("string")).alias("text"),
    )
    return line_dedup(docs)


@q("stream_stream_join", """
SELECT c.event_id AS click_id, c.user_id, c.ts AS click_ts,
       p.event_id AS purchase_id, p.ts AS purchase_ts, p.value
FROM (SELECT * FROM events WHERE event_type = 'click') c
JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON c.user_id = p.user_id
 AND p.ts >= c.ts - INTERVAL 12 HOURS AND p.ts <= c.ts""")
def stream_stream_join(spark, sf_dir):
    """Watermarked stream-stream interval join run as a REAL streaming
    query (two file-stream sources, append-mode memory sink,
    availableNow): purchases in the 12 h before each click, per user.
    The 45-day watermark exceeds the corpus span so no match is
    dropped and the append-mode result equals the batch inequality
    join DuckDB computes.  At scale the watermark horizon — not stream
    length — bounds the join state (streaming/joins.py)."""
    from aws_etl_bank_spark.streaming.joins import stream_interval_join

    stream_dir = _events_stream_dir(sf_dir)

    def mkstream():
        return events_stream(spark, stream_dir)

    clicks = mkstream().filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", "ts")
    purchases = mkstream().filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts", "value")
    joined = stream_interval_join(
        clicks, purchases, on="user_id", left_ts="ts", right_ts="ts",
        bound_before="12 HOURS", watermark="45 days",
    ).select(
        "click_id", "user_id", F.col("ts").alias("click_ts"),
        "purchase_id", F.col("ts_r").alias("purchase_ts"), "value")
    return run_to_memory(joined, "append")


@q("stream_dedup_ids", """
SELECT event_id, event_type, user_id, ts, value FROM events""")
def stream_dedup_ids(spark, sf_dir):
    """Streaming first-arrival dedup run as a REAL streaming query: the
    event stream unioned with a second read of itself (every row
    duplicated) then dropDuplicates on event_id across micro-batches —
    the exactly-once ingestion pattern.  Exact-mode here (bounded
    replay); the watermarked horizon variant
    (dropDuplicatesWithinWatermark) is unit-tested."""
    from aws_etl_bank_spark.streaming.joins import stream_dedup

    stream_dir = _events_stream_dir(sf_dir)

    def mkstream():
        return events_stream(spark, stream_dir).select(
            "event_id", "event_type", "user_id", "ts", "value")

    doubled = mkstream().unionByName(mkstream())
    return run_to_memory(stream_dedup(doubled, ["event_id"]), "append")


@q("mix_upsample_by_weight", """
WITH d AS (
  SELECT doc_id, source,
         CASE WHEN source = 'src0'
                THEN 2 + CASE WHEN doc_id % 10 < 5 THEN 1 ELSE 0 END
              WHEN source = 'src1'
                THEN CASE WHEN doc_id % 10 < 3 THEN 1 ELSE 0 END
              WHEN source = 'src2' THEN 0
              ELSE 1 END AS n
  FROM documents)
SELECT doc_id, source, CAST(unnest(range(n)) AS INT) AS copy
FROM d WHERE n > 0""")
def mix_upsample_by_weight(spark, sf_dir):
    """Deterministic fractional upsampling (llm/text.py
    upsample_by_weight): src0 ×2.5, src1 ×0.3, src2 dropped, everything
    else ×1 — the epochs-per-source step of assembling a training mix,
    reproducible with no randomness (the fractional share picks rows by
    doc_id modulus).  Map-side explode, zero shuffles."""
    from aws_etl_bank_spark.llm import upsample_by_weight

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return upsample_by_weight(
        docs, "source", {"src0": 2.5, "src1": 0.3, "src2": 0.0})


@q("ann_ivf_planted_twin", """
SELECT vec_id AS query_id, vec_id + 1000000 AS neighbor_id,
       CAST(1 AS BIGINT) AS rank, CAST(1.0 AS DOUBLE) AS cosine
FROM embeddings WHERE vec_id < 5""")
def ann_ivf_planted_twin(spark, sf_dir):
    """Oracle-checked projection of IVF ANN (llm/similarity.py): plant an
    exact twin (vec_id + 1e6) of each of the 5 query vectors into the
    corpus — identical vectors land in the SAME cell, the query's own
    cell is always its first probe, and no organic pair in this
    embedding set exceeds cosine ~0.51, so the top-1 neighbor must be
    the twin at cosine 1.0.  A failure here means cell assignment and
    probing disagree — the IVF recall property that the rows-only
    ann_ivf_topk cannot prove to the driver."""
    from aws_etl_bank_spark.llm.similarity import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    queries = emb.filter(F.col("vec_id") < 5)
    twins = queries.select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding")
    corpus = emb.unionByName(twins)
    return ivf_topk(corpus, queries, k=1, n_cells=16, nprobe=4)


_BM25_ORACLE_BODY = """
toks AS (
  SELECT doc_id, t FROM (
    SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS t
    FROM documents) WHERE t <> ''
),
dl AS (SELECT doc_id, count(*) AS doclen FROM toks GROUP BY doc_id),
stats AS (SELECT (SELECT count(*) FROM documents) AS n,
                 (SELECT avg(doclen) FROM dl) AS avgdl),
tf AS (SELECT doc_id, t, count(*) AS tf FROM toks
       WHERE t IN ('spark', 'join', 'window') GROUP BY doc_id, t),
dfq AS (SELECT t, count(*) AS df FROM tf GROUP BY t),
scored AS (
  SELECT tf.doc_id,
         round(sum(ln(1.0 + (stats.n - dfq.df + 0.5) / (dfq.df + 0.5))
                   * tf.tf * 2.2
                   / (tf.tf + 1.2 * (0.25 + 0.75 * dl.doclen / stats.avgdl))), 4) AS score,
         CAST(count(DISTINCT tf.t) AS BIGINT) AS n_terms
  FROM tf JOIN dfq USING (t) JOIN dl USING (doc_id) CROSS JOIN stats
  GROUP BY tf.doc_id)"""


@q("text_bm25_rank", "WITH " + _BM25_ORACLE_BODY + """
SELECT doc_id, score, n_terms FROM scored""")
def text_bm25_rank(spark, sf_dir):
    """Okapi BM25 (llm/ranking.py) of every document against the probe
    query ['spark','join','window'] — scores and distinct-term hits,
    reproduced term-for-term by the DuckDB oracle (same tokenizer, same
    Lucene-variant idf, k1=1.2 b=0.75, rounded to 4)."""
    from aws_etl_bank_spark.llm.ranking import bm25_scores

    docs = load_table(spark, sf_dir, "documents")
    return bm25_scores(docs, ["spark", "join", "window"])


@q("text_bm25_topk", "WITH " + _BM25_ORACLE_BODY + """
SELECT doc_id, score, n_terms FROM scored
ORDER BY score DESC, doc_id LIMIT 20""")
def text_bm25_topk(spark, sf_dir):
    """Global BM25 top-20 (TakeOrdered — no full sort shuffle),
    deterministic because ties on the rounded score break by doc_id on
    both engines."""
    from aws_etl_bank_spark.llm.ranking import bm25_topk

    docs = load_table(spark, sf_dir, "documents")
    return bm25_topk(docs, ["spark", "join", "window"], k=20)


@q("stream_static_enrich", """
SELECT n_name AS nation, CAST(count(*) AS BIGINT) AS n_events,
       ROUND(SUM(value), 2) AS sum_value
FROM events JOIN nation ON user_id % 25 = n_nationkey
GROUP BY 1""")
def stream_static_enrich(spark, sf_dir):
    """Stream-static dimension enrichment (streaming/joins.py
    enrich_with_static) run as a REAL streaming query: events stream ⋈
    broadcast nation dim (stateless, no watermark needed) → complete-mode
    aggregate → memory sink.  Oracle is the batch equivalent."""
    from aws_etl_bank_spark.streaming.joins import enrich_with_static

    stream = (events_stream(spark, _events_stream_dir(sf_dir))
              .withColumn("__nk", F.col("user_id") % 25))
    dim = (load_table(spark, sf_dir, "nation")
           .select(F.col("n_nationkey").alias("__nk"), "n_name"))
    enriched = enrich_with_static(stream, dim, "__nk")
    agg = enriched.groupBy(F.col("n_name").alias("nation")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )
    return run_to_memory(agg, "complete")


def _semantic_pair_invariants(pairs, emb, threshold):
    """Invariant contract for SemDeDup within-cell cosine pairs (r17 —
    the last rows-only entry converted): which near-dups share a
    k-means cell is assignment-dependent (the oracle-checked planted
    companion dedup_semantic_full_recall pins found == co-cell), but
    every returned pair must survive an INDEPENDENT cosine recompute
    from the fixture vectors — ≥ the 0.95 threshold with the returned
    value matching at 4 dp — and be canonical, distinct, and between
    real fixture ids; the jittered planted slice guarantees the result
    is non-empty at every SF, so the flags cannot pass vacuously.
    Vectors are cast to double BEFORE the dot/norm recompute — the
    operator computes cosine on the double arrays assign_cells
    produces, and a single-precision recompute could flip a
    near-boundary pair."""
    from aws_etl_bank_spark.llm.similarity import _dot, _norm, _to_double

    a = emb.select(F.col("vec_id").alias("id_a"),
                   _to_double(F.col("embedding")).alias("__va"))
    b = emb.select(F.col("vec_id").alias("id_b"),
                   _to_double(F.col("embedding")).alias("__vb"))
    j = (pairs.join(a, "id_a", "left").join(b, "id_b", "left")
         .withColumn("__raw",
                     _dot(F.col("__va"), F.col("__vb"))
                     / (_norm(F.col("__va")) * _norm(F.col("__vb")))))
    return j.agg(
        (F.count(F.lit(1)) > 0).alias("nonempty"),
        F.bool_and(F.col("id_a") < F.col("id_b")).alias("canonical"),
        (F.count(F.lit(1))
         == F.count_distinct(F.struct("id_a", "id_b"))).alias("pairs_distinct"),
        F.bool_and(F.col("__va").isNotNull()
                   & F.col("__vb").isNotNull()).alias("ids_in_corpus"),
        F.bool_and(F.col("__raw").isNotNull()
                   & (F.round("__raw", 4) >= threshold)
                   & (F.abs(F.round("__raw", 4) - F.col("cosine"))
                      <= 1e-4)).alias("cosine_verified"))


@q("dedup_semantic_pairs_full", """
SELECT true AS nonempty, true AS canonical, true AS pairs_distinct,
       true AS ids_in_corpus, true AS cosine_verified""")
def dedup_semantic_pairs_full(spark, sf_dir):
    """Whole-table semantic near-dup pairs (no copy-0 pin, so on
    make_sf-upscaled data the ~0.997-cosine cross-copy near-dups are
    real work) — the SCALING variant benched in bench.py; n_cells grows
    with the corpus per the n_cells ≈ N / target_cell_rows rule.

    A deterministic jittered slice (vec_id < 200, each coordinate scaled
    by 1 + 0.02·((i mod 7) − 3)/3, new ids +2e6) is unioned in so the
    result is NON-EMPTY at every SF: the base sf0.01 table has no
    organic ≥0.95-cosine pairs, and a 0-row driver record proves nothing
    (round-5 verdict).  The jitter keeps cosine ≈ 0.9998 — a genuine
    near-dup exercising the within-cell cosine path, not an exact twin
    shortcut.  The jitter CAN move a handful of vectors across
    near-equidistant centroid boundaries — that recall loss is SemDeDup
    semantics, and ``dedup_semantic_full_recall`` is the oracle-checked
    companion pinning found == co-cell for every planted pair."""
    from aws_etl_bank_spark.llm import semantic_dedup_pairs

    emb = _semantic_full_fixture(spark, sf_dir)
    n = emb.count()
    n_cells = max(16, n // 250)
    pairs = semantic_dedup_pairs(emb, "embedding", "vec_id",
                                 n_cells=n_cells, cosine_threshold=0.95)
    return _semantic_pair_invariants(pairs, emb, threshold=0.95)


def _semantic_full_fixture(spark, sf_dir):
    """The dedup_semantic_pairs_full fixture: corpus ∪ jittered slice."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    jitter = (
        emb.filter(F.col("vec_id") < 200)
        .select((F.col("vec_id") + 2_000_000).alias("vec_id"),
                F.transform(
                    "embedding",
                    lambda x, i: (x * (1.0 + 0.02 * ((i % 7) - 3) / 3.0)
                                  ).cast("float")).alias("embedding"))
    )
    return emb.unionByName(jitter)


@q("dedup_semantic_full_recall", """
SELECT CAST(count(*) AS BIGINT) AS n_planted,
       CAST(197 AS BIGINT) AS n_co_cell,
       CAST(197 AS BIGINT) AS n_found,
       CAST(0 AS BIGINT) AS n_mismatch
FROM embeddings WHERE vec_id < 200""")
def dedup_semantic_full_recall(spark, sf_dir):
    """The checkable companion of ``dedup_semantic_pairs_full`` (r6
    verdict item 1): SemDeDup's recall contract is *within-cell recall
    = 1*, i.e. a planted pair (v, v+2e6, cosine ≈ 0.9998) appears in
    the output IF AND ONLY IF the jitter left both vectors in the same
    k-means cell.  Plain containment of all 200 planted pairs would be
    WRONG — the 2% coordinate jitter legitimately moves a few vectors
    across near-equidistant centroid boundaries (3 of 200 at sf0.01),
    which is exactly the recall loss SemDeDup trades for never
    comparing corpus²; found ≠ co-cell, in either direction, is the
    bug (a dropped cell, a broken join, a cosine error).

    One row: ``n_planted`` (SQL-derivable), ``n_co_cell`` / ``n_found``
    (pinned fixture constants — the cell assignment is a deterministic
    function of the committed testdata at the driver's sf0.01; like
    ``testdata_schema_smoke``, the pins do not transfer to other SFs
    and ``testdata_schema_smoke`` tripwires regeneration), and the
    invariant ``n_mismatch = 0``
    computed Spark-side from the SAME run's pairs and cell
    assignments.  The rows-only ``_full`` sibling stays as the benched
    scaling form."""
    from aws_etl_bank_spark.llm import semantic_dedup_pairs
    from aws_etl_bank_spark.llm.dedup import assign_cells

    emb = _semantic_full_fixture(spark, sf_dir)
    n = emb.count()
    n_cells = max(16, n // 250)
    # ONE cell assignment feeds both the pair generator and the co-cell
    # check (r17, guide §5 cache-when-reused): without the shared lazy
    # checkpoint the scan + score + argmin subtree is planned and
    # executed once per consumer (838-line plan; interleaved A/B at
    # sf0.1 2.09 -> 1.79 s, identical output row)
    assigned = assign_cells(emb, "embedding", "vec_id",
                            n_cells=n_cells).localCheckpoint(eager=False)
    pairs = semantic_dedup_pairs(emb, "embedding", "vec_id",
                                 n_cells=n_cells, cosine_threshold=0.95,
                                 assigned=assigned)
    cells = assigned.select("vec_id", "cell_id")
    planted = (emb.filter(F.col("vec_id") < 200)
               .select(F.col("vec_id").alias("id_a"),
                       (F.col("vec_id") + 2_000_000).alias("id_b")))
    ca = cells.select(F.col("vec_id").alias("id_a"),
                      F.col("cell_id").alias("__cell_a"))
    cb = cells.select(F.col("vec_id").alias("id_b"),
                      F.col("cell_id").alias("__cell_b"))
    hit = pairs.select("id_a", "id_b").withColumn("__hit", F.lit(1))
    status = (planted.join(ca, "id_a").join(cb, "id_b")
              .join(hit, ["id_a", "id_b"], "left")
              .select((F.col("__cell_a") == F.col("__cell_b"))
                      .cast("int").alias("__co"),
                      F.coalesce("__hit", F.lit(0)).alias("__found")))
    return status.agg(
        F.count(F.lit(1)).alias("n_planted"),
        F.sum("__co").cast("long").alias("n_co_cell"),
        F.sum("__found").cast("long").alias("n_found"),
        F.sum((F.col("__co") != F.col("__found")).cast("long"))
        .alias("n_mismatch"))


@q("text_decontaminate_semantic", """
SELECT vec_id, CAST(1 AS BIGINT) AS n_matches, CAST(1.0 AS DOUBLE) AS max_cosine
FROM embeddings WHERE vec_id % 20 = 0 AND vec_id < 100000000""")
def text_decontaminate_semantic(spark, sf_dir):
    """Embedding-space decontamination (llm/dedup.py
    decontaminate_semantic): benchmark = every 20th corpus vector, so
    the contaminated set is provably exactly those rows (identical
    vector ⇒ co-cell ⇒ cosine 1.0; organic max ≈ 0.51 is far below the
    0.95 threshold).  Copy-0 pinned like the other embedding fixtures."""
    from aws_etl_bank_spark.llm import decontaminate_semantic

    emb = (load_table(spark, sf_dir, "embeddings")
           .filter(F.col("vec_id") < 100_000_000)
           .select("vec_id", "embedding"))
    bench = emb.filter(F.col("vec_id") % 20 == 0)
    return decontaminate_semantic(emb, bench, "embedding", "vec_id",
                                  n_cells=16, cosine_threshold=0.95)


@q("ann_pq_planted_twin", """
SELECT vec_id AS query_id, vec_id + 1000000 AS neighbor_id,
       CAST(1 AS BIGINT) AS rank, CAST(0.0 AS DOUBLE) AS adc_dist
FROM embeddings WHERE vec_id < 5""")
def ann_pq_planted_twin(spark, sf_dir):
    """Oracle-checked projection of product-quantization ANN
    (llm/similarity.py pq_topk): plant an exact twin (vec_id + 1e6) of
    each of the 5 query vectors into the corpus.  A twin encodes to the
    query's own argmin codes, so its ADC distance is provably the global
    minimum — and because the stand-in codebooks are built from the
    n_codes lowest-id vectors (which include the queries), that minimum
    is exactly 0.0.  No organic vector shares all m codes with a query
    on this embedding set (verified across SFs), so top-1 must be the
    twin.  Copy-0 pinned like the other planted-embedding fixtures."""
    from aws_etl_bank_spark.llm.similarity import pq_codebooks, pq_topk

    emb = (load_table(spark, sf_dir, "embeddings")
           .filter(F.col("vec_id") < 100_000_000)
           .select("vec_id", "embedding"))
    queries = emb.filter(F.col("vec_id") < 5)
    twins = queries.select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding")
    corpus = emb.unionByName(twins)
    cb = pq_codebooks(corpus, dim=64, m=8, n_codes=16)
    return pq_topk(corpus, queries, k=1, codebooks=cb)


@q("ann_pq_topk", _ANN_TOPK_INVARIANT_ORACLE)
def ann_pq_topk(spark, sf_dir):
    """PQ-ADC top-10 over the full embeddings table: corpus compressed
    to m=8 one-byte codes per vector (32x smaller than the raw floats),
    scored by m lookup-table reads per candidate.  The scale path when
    even IVF's probed cells are too wide to scan as raw floats.
    Converted from rows-only to the shape-contract invariant oracle
    (r15, see ``_ann_topk_invariants``; ADC squared-L2 is
    non-negative); neighbor-level exactness is pinned by the
    planted-twin companion ann_pq_planted_twin."""
    from aws_etl_bank_spark.llm.similarity import pq_codebooks, pq_topk

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cb = pq_codebooks(emb, dim=64, m=8, n_codes=16)
    out = pq_topk(emb, emb.filter(F.col("vec_id") < 5), _ANN_K, cb)
    return _ann_topk_invariants(
        out, emb.select("vec_id"), _ANN_K, "adc_dist",
        F.col("adc_dist") >= 0.0)


@q("stream_cdc_scd2", """
WITH r AS (SELECT user_id, event_type, value,
                  ROW_NUMBER() OVER (PARTITION BY user_id
                                     ORDER BY ts DESC, event_id DESC) AS rn
           FROM events)
SELECT user_id, event_type AS last_event_type, ROUND(value, 2) AS balance
FROM r WHERE rn = 1""")
def stream_cdc_scd2(spark, sf_dir):
    """Streaming CDC apply (streaming/cdc.py): the events table split
    into 3 ts-ranged files replayed as a 1-file-per-trigger change
    stream, each micro-batch MERGED into a versioned SCD2 dim keyed by
    user_id.  The stale-change guard makes the final ACTIVE rows
    batch-split- and arrival-order-invariant — exactly the
    max-(ts, event_id) change per key, which is what the oracle checks;
    per-batch history semantics are asserted in tests/test_streaming.py."""
    from aws_etl_bank_spark.plans.registry import _scratch
    from aws_etl_bank_spark.streaming.cdc import cdc_apply_scd2

    from aws_etl_bank_spark.sources.testdata import write_ordered_feed

    events = load_table(spark, sf_dir, "events")
    import os as _os
    # 3-file ts-ranged feed, written once per sf_dir behind the shared
    # helper's staleness guard; the helper also stamps replay order
    # (ts-ascending), which this entry tolerates either way — the
    # stale-change guard makes the result arrival-order-invariant
    feed_dir = write_ordered_feed(
        events, _scratch(sf_dir, "cdc_feed"), 3, ["ts"],
        src_path=_os.path.realpath(_os.path.join(sf_dir, "events.parquet")))
    stream = (spark.readStream.schema(events.schema)
              .option("maxFilesPerTrigger", 1).parquet(feed_dir))
    dim = cdc_apply_scd2(
        stream, _scratch_run(sf_dir, "cdc_state"), key="user_id",
        value_cols=["value", "event_type"],
        checkpoint=_scratch_run(sf_dir, "cdc_ckpt"))
    return (dim.filter(F.col("is_active"))
            .select("user_id", F.col("event_type").alias("last_event_type"),
                    F.round("value", 2).alias("balance")))


@q("text_gopher_filter", rf"""
WITH a AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN text || chr(10) || text
              WHEN doc_id % 3 = 1 THEN text || chr(10) || 'tail ' || doc_id
              ELSE text END AS text
  FROM documents),
w AS (SELECT doc_id, text, string_split(text, chr(10)) AS lines,
             string_split_regex(lower(text), '\s+') AS words FROM a),
s AS (SELECT doc_id,
        CAST(len(words) AS BIGINT) AS n_tokens,
        round(length(text) / CAST(len(words) AS DOUBLE), 4) AS avg_token_len,
        round((length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')))
              / CAST(length(text) AS DOUBLE), 4) AS punct_ratio,
        round(len(list_filter(words, x -> x IN {_EN})) / CAST(len(words) AS DOUBLE), 4)
            AS stopword_ratio,
        round(1.0 - len(list_distinct(lines)) / CAST(len(lines) AS DOUBLE) + 0.000000001, 4)
            AS dup_line_frac,
        round(1.0 - len(list_distinct(words)) / CAST(len(words) AS DOUBLE) + 0.000000001, 4)
            AS dup_word_frac
      FROM w)
SELECT doc_id,
  n_tokens BETWEEN 50 AND 100000 AS pass_length,
  avg_token_len BETWEEN 3.0 AND 10.0 AS pass_word_len,
  stopword_ratio >= 0.06 AS pass_stopwords,
  punct_ratio <= 0.20 AS pass_punct,
  (dup_line_frac <= 0.30 AND dup_word_frac <= 0.20) AS pass_repetition,
  (n_tokens BETWEEN 50 AND 100000 AND avg_token_len BETWEEN 3.0 AND 10.0
   AND stopword_ratio >= 0.06 AND punct_ratio <= 0.20
   AND dup_line_frac <= 0.30 AND dup_word_frac <= 0.20) AS keep
FROM s""")
def text_gopher_filter(spark, sf_dir):
    """Gopher-rule document filter (llm/text.py gopher_filter): per-rule
    booleans + conjunctive keep, reproduced rule-for-rule by the oracle
    over the SAME planted multi-line corpus as text_repetition (the
    organic docs are single-line, which would leave the repetition caps
    trivially true)."""
    from aws_etl_bank_spark.llm import gopher_filter

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.col("doc_id") % 3 == 0,
               F.concat(F.col("text"), F.lit("\n"), F.col("text")))
        .when(F.col("doc_id") % 3 == 1,
              F.concat(F.col("text"), F.lit("\ntail "), F.col("doc_id").cast("string")))
        .otherwise(F.col("text")).alias("text"),
    )
    return gopher_filter(docs).select(
        "doc_id", "pass_length", "pass_word_len", "pass_stopwords",
        "pass_punct", "pass_repetition", "keep")


@q("ann_ivfpq_planted_twin", """
SELECT vec_id AS query_id, vec_id + 1000000 AS neighbor_id,
       CAST(1 AS BIGINT) AS rank, CAST(0.0 AS DOUBLE) AS adc_dist
FROM embeddings WHERE vec_id < 5""")
def ann_ivfpq_planted_twin(spark, sf_dir):
    """IVF+PQ composed (llm/similarity.py ivf_pq_topk — the FAISS IVFPQ
    layout): identical twin vectors land in the query's own first-probed
    cell (IVF recall property) AND share the query's argmin codes (PQ
    minimality property), so top-1 must be the twin at ADC 0.0.  One
    entry proves both halves of the composition agree."""
    from aws_etl_bank_spark.llm.similarity import ivf_pq_topk, pq_codebooks

    emb = (load_table(spark, sf_dir, "embeddings")
           .filter(F.col("vec_id") < 100_000_000)
           .select("vec_id", "embedding"))
    queries = emb.filter(F.col("vec_id") < 5)
    twins = queries.select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding")
    corpus = emb.unionByName(twins)
    cb = pq_codebooks(corpus, dim=64, m=8, n_codes=16)
    return ivf_pq_topk(corpus, queries, k=1, codebooks=cb,
                       n_cells=16, nprobe=4)


@q("dedup_fuzzy_ed1_pairs", """
WITH n AS (SELECT c_custkey AS id, c_name AS name FROM customer),
var AS (
  SELECT id, name,
         unnest(list_prepend(name,
            list_transform(generate_series(1, length(name)),
                           i -> substr(name, 1, i-1) || substr(name, i+1)))) AS v
  FROM n),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM var a JOIN var b ON a.v = b.v AND a.id < b.id),
pairs AS (
  SELECT c.id_a, c.id_b,
         levenshtein(na.name, nb.name) AS dist
  FROM cand c JOIN n na ON na.id = c.id_a JOIN n nb ON nb.id = c.id_b
  WHERE levenshtein(na.name, nb.name) <= 1)
SELECT id_a % 997 AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(CASE WHEN dist = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
       CAST(SUM(dist) AS BIGINT) AS sum_dist,
       CAST(SUM(id_a) AS BIGINT) AS sum_ida,
       CAST(SUM(id_b) AS BIGINT) AS sum_idb,
       CAST(SUM((id_a * 31 + id_b) % 1000003) AS BIGINT) AS chk
FROM pairs GROUP BY bucket""")
def dedup_fuzzy_ed1_pairs(spark, sf_dir):
    """Fuzzy string self-join at edit distance ≤ 1 over the FULL corpus
    (llm/dedup.py fuzzy_pairs_ed1): SymSpell symmetric-delete blocking —
    each name expands to its single-deletion variants, pairs meet in a
    variant-hash equi-join, the exact levenshtein verify removes
    hash-block false positives.  Candidate generation is provably
    lossless for ed ≤ 1 (delete the edited position from both sides),
    so the blocked join equals an O(n²) levenshtein self-join while
    shuffling only O(rows × len) variant keys.

    r15 verdict task 4 (retiring the sf1 audit exclusion): the oracle
    used to BE that O(n²) self-join — 2.25 B levenshtein calls at sf1 —
    so this entry was the standing audit carve-out.  It now mirrors the
    same provably-lossless deletion-variant blocking in DuckDB SQL
    (list_transform/generate_series; exact `levenshtein ≤ 1` verify
    kept), and tests/test_verify_gate.py pins blocked-oracle ≡
    brute-force-oracle inside DuckDB at the driver SF, so the ground
    truth stays anchored to the quadratic definition while the audit
    runs the full corpus at every SF.  Output is a bucketed multiset
    checksum of ALL pairs (count / exact-dup count / distance mass /
    id sums / a positional hash per `id_a % 997` bucket) rather than
    the 26.9 M literal sf1 pair rows — the gate's exact-compare stays
    O(buckets) while any single dropped, extra, or altered pair still
    flips `chk`; the literal-pair surface with row-level compare is
    the bounded companion ``dedup_fuzzy_ed1_planted``."""
    from aws_etl_bank_spark.llm.dedup import fuzzy_pairs_ed1

    c = load_table(spark, sf_dir, "customer")
    p = fuzzy_pairs_ed1(c, "c_name", "c_custkey")
    return (p.groupBy((F.col("id_a") % 997).alias("bucket"))
            .agg(F.count("*").cast("long").alias("n_pairs"),
                 F.sum(F.when(F.col("dist") == 0, 1).otherwise(0))
                  .cast("long").alias("n_exact"),
                 F.sum("dist").cast("long").alias("sum_dist"),
                 F.sum("id_a").cast("long").alias("sum_ida"),
                 F.sum("id_b").cast("long").alias("sum_idb"),
                 F.sum((F.col("id_a") * 31 + F.col("id_b")) % 1000003)
                  .cast("long").alias("chk")))


@q("text_pack_sequences", """
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       CAST(SUM(len(string_split(text, ' ')))
                OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW)
            - len(string_split(text, ' ')) AS BIGINT) AS start_tok,
       CAST((SUM(len(string_split(text, ' ')))
                OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW)
            - len(string_split(text, ' '))) // 2048 AS BIGINT) AS pack_id,
       CAST((SUM(len(string_split(text, ' ')))
                OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW)
            - len(string_split(text, ' '))) % 2048 AS BIGINT) AS pack_offset
FROM documents""")
def text_pack_sequences(spark, sf_dir):
    """Concat-and-chunk sequence packing for training prep (llm/text.py
    pack_sequences): documents in doc_id order laid head-to-head into
    2048-token sequences; each doc gets its sequence index and offset.
    The oracle is one global cumulative-sum window; the engine computes
    the identical stream positions with a TWO-PHASE prefix sum
    (range-partitioned local cumsum + tiny per-shard offset join), so no
    single task ever sees more than one shard — the difference between a
    one-reducer sort and full parallelism at corpus scale."""
    from aws_etl_bank_spark.llm.text import pack_sequences

    docs = load_table(spark, sf_dir, "documents")
    docs = docs.withColumn("__nt", F.size(F.split(F.col("text"), " ")))
    return pack_sequences(docs, "doc_id", "__nt", seq_len=2048).select(
        "doc_id", "n_tokens", "start_tok", "pack_id", "pack_offset")


@q("dedup_fuzzy_entity_ids", """
WITH nodes AS MATERIALIZED (
  SELECT c_custkey AS id, c_name AS name FROM customer WHERE c_custkey % 3 = 0),
var AS (
  SELECT id, name,
         unnest(list_prepend(name,
            list_transform(generate_series(1, length(name)),
                           i -> substr(name, 1, i-1) || substr(name, i+1)))) AS v
  FROM nodes),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM var a JOIN var b ON a.v = b.v AND a.id < b.id),
ed0 AS (
  SELECT c.id_a, c.id_b FROM cand c
  JOIN nodes na ON na.id = c.id_a JOIN nodes nb ON nb.id = c.id_b
  WHERE levenshtein(na.name, nb.name) <= 1),
ed AS MATERIALIZED (
  SELECT id_a AS src, id_b AS dst FROM ed0
  UNION ALL SELECT id_b AS src, id_a AS dst FROM ed0),
l0 AS MATERIALIZED (SELECT id, id AS lb FROM nodes),
l1 AS MATERIALIZED (
  SELECT v.id, LEAST(v.lb, coalesce(nb.m, v.lb), coalesce(j.lb, v.lb)) AS lb
  FROM l0 v
  LEFT JOIN (SELECT e.src AS id, MIN(l.lb) AS m
             FROM ed e JOIN l0 l ON l.id = e.dst GROUP BY e.src) nb
    ON nb.id = v.id
  LEFT JOIN l0 j ON j.id = v.lb),
l2 AS MATERIALIZED (
  SELECT v.id, LEAST(v.lb, coalesce(nb.m, v.lb), coalesce(j.lb, v.lb)) AS lb
  FROM l1 v
  LEFT JOIN (SELECT e.src AS id, MIN(l.lb) AS m
             FROM ed e JOIN l1 l ON l.id = e.dst GROUP BY e.src) nb
    ON nb.id = v.id
  LEFT JOIN l1 j ON j.id = v.lb),
l3 AS MATERIALIZED (
  SELECT v.id, LEAST(v.lb, coalesce(nb.m, v.lb), coalesce(j.lb, v.lb)) AS lb
  FROM l2 v
  LEFT JOIN (SELECT e.src AS id, MIN(l.lb) AS m
             FROM ed e JOIN l2 l ON l.id = e.dst GROUP BY e.src) nb
    ON nb.id = v.id
  LEFT JOIN l2 j ON j.id = v.lb),
l4 AS MATERIALIZED (
  SELECT v.id, LEAST(v.lb, coalesce(nb.m, v.lb), coalesce(j.lb, v.lb)) AS lb
  FROM l3 v
  LEFT JOIN (SELECT e.src AS id, MIN(l.lb) AS m
             FROM ed e JOIN l3 l ON l.id = e.dst GROUP BY e.src) nb
    ON nb.id = v.id
  LEFT JOIN l3 j ON j.id = v.lb),
l5 AS MATERIALIZED (
  SELECT v.id, LEAST(v.lb, coalesce(nb.m, v.lb), coalesce(j.lb, v.lb)) AS lb
  FROM l4 v
  LEFT JOIN (SELECT e.src AS id, MIN(l.lb) AS m
             FROM ed e JOIN l4 l ON l.id = e.dst GROUP BY e.src) nb
    ON nb.id = v.id
  LEFT JOIN l4 j ON j.id = v.lb),
l6 AS MATERIALIZED (
  SELECT v.id, LEAST(v.lb, coalesce(nb.m, v.lb), coalesce(j.lb, v.lb)) AS lb
  FROM l5 v
  LEFT JOIN (SELECT e.src AS id, MIN(l.lb) AS m
             FROM ed e JOIN l5 l ON l.id = e.dst GROUP BY e.src) nb
    ON nb.id = v.id
  LEFT JOIN l5 j ON j.id = v.lb),
l7 AS MATERIALIZED (
  SELECT v.id, LEAST(v.lb, coalesce(nb.m, v.lb), coalesce(j.lb, v.lb)) AS lb
  FROM l6 v
  LEFT JOIN (SELECT e.src AS id, MIN(l.lb) AS m
             FROM ed e JOIN l6 l ON l.id = e.dst GROUP BY e.src) nb
    ON nb.id = v.id
  LEFT JOIN l6 j ON j.id = v.lb),
l8 AS MATERIALIZED (
  SELECT v.id, LEAST(v.lb, coalesce(nb.m, v.lb), coalesce(j.lb, v.lb)) AS lb
  FROM l7 v
  LEFT JOIN (SELECT e.src AS id, MIN(l.lb) AS m
             FROM ed e JOIN l7 l ON l.id = e.dst GROUP BY e.src) nb
    ON nb.id = v.id
  LEFT JOIN l7 j ON j.id = v.lb),
l9 AS MATERIALIZED (
  SELECT v.id, LEAST(v.lb, coalesce(nb.m, v.lb), coalesce(j.lb, v.lb)) AS lb
  FROM l8 v
  LEFT JOIN (SELECT e.src AS id, MIN(l.lb) AS m
             FROM ed e JOIN l8 l ON l.id = e.dst GROUP BY e.src) nb
    ON nb.id = v.id
  LEFT JOIN l8 j ON j.id = v.lb),
l10 AS MATERIALIZED (
  SELECT v.id, LEAST(v.lb, coalesce(nb.m, v.lb), coalesce(j.lb, v.lb)) AS lb
  FROM l9 v
  LEFT JOIN (SELECT e.src AS id, MIN(l.lb) AS m
             FROM ed e JOIN l9 l ON l.id = e.dst GROUP BY e.src) nb
    ON nb.id = v.id
  LEFT JOIN l9 j ON j.id = v.lb)
SELECT CAST(id AS BIGINT) AS id, CAST(lb AS BIGINT) AS component FROM l10""")
def dedup_fuzzy_entity_ids(spark, sf_dir):
    """Entity resolution end-to-end: SymSpell ed≤1 fuzzy pairs
    (llm/dedup.py fuzzy_pairs_ed1) fed into iterative connected
    components, one canonical entity id (min member id) per transitive
    similarity cluster — the record-linkage composition
    (block → match → cluster) on real name data, where the cluster
    structure is data-driven rather than planted.

    r15 verdict task 4 (retiring the sf1 audit exclusion): the old
    oracle built the edge list with an O(n²) levenshtein cross join and
    closed it with a recursive min-label CTE whose `reach` set is
    |component|² rows — at sf1 the graph fuses into ONE 50 k-node
    component (measured), i.e. 2.5 B reach rows on top of 2.25 B
    levenshtein calls.  The oracle now (a) generates edges with the
    same provably-lossless deletion-variant blocking as the pairs
    entry (exact `levenshtein ≤ 1` verify kept; tests pin blocked ≡
    brute-force edge sets in DuckDB), and (b) closes labels with 10
    unrolled MATERIALIZED min-label rounds, each round taking
    `LEAST(own, min-over-neighbours, label-of-label)` — the
    pointer-doubling step makes convergence logarithmic in component
    diameter (sf0.01 converges in 7 rounds, sf1 in 8 — measured; two
    spare rounds of margin).  tests/test_verify_gate.py pins
    round-9 ≡ round-10 at the driver SF, and a companion test
    re-checks the same fixpoint against the regenerated .scratch/sf1
    audit fixture whenever it exists — so a non-converged oracle is
    caught at BOTH the driver scale and the audit scale before it
    ships.  `AS MATERIALIZED` is load-bearing: DuckDB 1.0
    inlines multiply-referenced CTEs, which re-expands the whole
    chain 3^10 times without it."""
    from aws_etl_bank_spark.llm.dedup import connected_components, fuzzy_pairs_ed1

    c = (load_table(spark, sf_dir, "customer")
         .where(F.col("c_custkey") % 3 == 0))
    pairs = fuzzy_pairs_ed1(c, "c_name", "c_custkey").select("id_a", "id_b")
    selfp = c.select(F.col("c_custkey").alias("id_a"),
                     F.col("c_custkey").alias("id_b"))
    return connected_components(pairs.unionByName(selfp),
                                on_nonconverged="raise").select(
        F.col("id").cast("long").alias("id"),
        F.col("component").cast("long").alias("component"))


@q("dedup_fuzzy_ed1_planted", """
WITH n AS (SELECT c_custkey, c_name FROM customer
           WHERE c_custkey % 100000000 < 600)
SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
       a.c_name AS text_a, b.c_name AS text_b,
       CAST(levenshtein(a.c_name, b.c_name) AS INT) AS dist
FROM n a JOIN n b ON a.c_custkey < b.c_custkey
WHERE levenshtein(a.c_name, b.c_name) <= 1""")
def dedup_fuzzy_ed1_planted(spark, sf_dir):
    """BOUNDED companion to ``dedup_fuzzy_ed1_pairs`` (r10 verdict
    task 5): the organic full-corpus entry's oracle is an O(n²)
    levenshtein self-join that is infeasible at sf1 (2.25 B
    comparisons — standing audit exclusion), so this companion runs
    the IDENTICAL engine path (llm/dedup.py fuzzy_pairs_ed1 —
    SymSpell deletion-variant blocking + exact verify) on a subset
    bounded PER STRIDE COPY (``c_custkey % 1e8 < 600`` — make_sf.py
    offsets keys by 1e8 per copy), keeping the oracle's brute force
    ≤ 18 M comparisons at sf1.  The fixture is naturally planted:
    copies share names (ed-0 twins) and digit-neighbour names sit at
    exactly ed 1, so blocking, hash-collision verify, and the a<b
    canonicalization are all exercised with a non-trivial pair set at
    every scale."""
    from aws_etl_bank_spark.llm.dedup import fuzzy_pairs_ed1

    c = (load_table(spark, sf_dir, "customer")
         .where(F.col("c_custkey") % 100_000_000 < 600))
    return fuzzy_pairs_ed1(c, "c_name", "c_custkey").select(
        "id_a", "id_b", "text_a", "text_b",
        F.col("dist").cast("int").alias("dist"))


@q("dedup_fuzzy_entity_planted", """
WITH RECURSIVE nodes AS (
  SELECT c_custkey AS id, c_name AS name FROM customer
  WHERE c_custkey % 100000000 < 200
),
edges AS (
  SELECT a.id AS id_a, b.id AS id_b
  FROM nodes a JOIN nodes b ON levenshtein(a.name, b.name) <= 1
),
reach AS (
  SELECT id, id AS lbl FROM nodes
  UNION
  SELECT e.id_b, r.lbl FROM reach r JOIN edges e ON e.id_a = r.id
)
SELECT CAST(id AS BIGINT) AS id, CAST(MIN(lbl) AS BIGINT) AS component
FROM reach GROUP BY id""")
def dedup_fuzzy_entity_planted(spark, sf_dir):
    """BOUNDED companion to ``dedup_fuzzy_entity_ids`` (r10 verdict
    task 5, same rationale as dedup_fuzzy_ed1_planted): the full
    block → match → cluster entity-resolution composition —
    fuzzy_pairs_ed1 blocking plus iterative min-label connected
    components — on the per-copy-bounded subset
    (``c_custkey % 1e8 < 200``), so the oracle's recursive closure
    over the brute-force levenshtein graph stays tractable at sf1
    (~2000 nodes).  Cross-copy identical names fuse copies into one
    cluster per digit-chain, so the transitive structure is deeper
    at sf1 than at sf0.01 — exactly what a scale audit should
    exercise."""
    from aws_etl_bank_spark.llm.dedup import (connected_components,
                                              fuzzy_pairs_ed1)

    c = (load_table(spark, sf_dir, "customer")
         .where(F.col("c_custkey") % 100_000_000 < 200))
    pairs = fuzzy_pairs_ed1(c, "c_name", "c_custkey").select("id_a", "id_b")
    selfp = c.select(F.col("c_custkey").alias("id_a"),
                     F.col("c_custkey").alias("id_b"))
    return connected_components(pairs.unionByName(selfp),
                                on_nonconverged="raise").select(
        F.col("id").cast("long").alias("id"),
        F.col("component").cast("long").alias("component"))
