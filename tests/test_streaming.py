"""Structured-Streaming runner tests (SURVEY.md §2.11)."""

import pyspark.sql.functions as F
import pytest

from aws_etl_bank_spark.streaming import connectors, runner, sessionize


class TestBrokerDispatch:
    """Connection-type dispatch matrix for getStreamingSource facades."""

    def test_kafka_glue_style_options_mapped(self):
        fmt, opts = connectors.resolve_stream_source("kafka", {
            "bootstrap.servers": "b1:9092,b2:9092",
            "topicName": "events",
            "startingOffsets": "earliest",
            "security.protocol": "SSL",
            "classification": "json",   # format concern: dropped
        })
        assert fmt == "kafka"
        assert opts == {
            "kafka.bootstrap.servers": "b1:9092,b2:9092",
            "subscribe": "events",
            "startingOffsets": "earliest",
            "kafka.security.protocol": "SSL",
        }

    def test_kafka_spark_native_options_pass_through(self):
        fmt, opts = connectors.resolve_stream_source("kafka", {
            "kafka.bootstrap.servers": "b:9092",
            "subscribePattern": "ev-.*",
            "maxOffsetsPerTrigger": "10000",
            "kafka.sasl.mechanism": "PLAIN",
        })
        assert opts["subscribePattern"] == "ev-.*"
        assert opts["maxOffsetsPerTrigger"] == "10000"
        assert opts["kafka.sasl.mechanism"] == "PLAIN"

    def test_kafka_missing_topic_or_servers_rejected(self):
        with pytest.raises(ValueError, match="topicName"):
            connectors.map_kafka_options({"bootstrap.servers": "b:9092"})
        with pytest.raises(ValueError, match="bootstrap.servers"):
            connectors.map_kafka_options({"topicName": "t"})

    def test_kinesis_glue_style_options_mapped(self):
        fmt, opts = connectors.resolve_stream_source("kinesis", {
            "streamARN": "arn:aws:kinesis:us-east-1:123456789012:stream/events",
            "startingPosition": "trim_horizon",
            "classification": "json",   # format concern: dropped
        })
        assert fmt == "aws-kinesis"
        assert opts == {
            "kinesis.streamName": "events",
            "kinesis.region": "us-east-1",
            "kinesis.startingPosition": "TRIM_HORIZON",
        }

    def test_kinesis_explicit_name_and_passthrough(self):
        fmt, opts = connectors.resolve_stream_source("kinesis", {
            "streamName": "s1",
            "endpointUrl": "https://kinesis.eu-west-1.amazonaws.com",
            "kinesis.consumerName": "app",   # connector-native passthrough
        })
        assert opts["kinesis.streamName"] == "s1"
        assert opts["kinesis.endpointUrl"].startswith("https://kinesis")
        assert opts["kinesis.consumerName"] == "app"

    def test_kinesis_missing_stream_rejected(self):
        with pytest.raises(ValueError, match="streamName or streamARN"):
            connectors.map_kinesis_options({"startingPosition": "latest"})

    def test_kinesis_fetch_time_ms_converted_to_seconds(self):
        # Glue's maxFetchTimeInMs is milliseconds; the connector option is
        # seconds per shard — 1000 ms must become 1 s, not 1000 s
        opts = connectors.map_kinesis_options(
            {"streamName": "s1", "maxFetchTimeInMs": 1000})
        assert opts["kinesis.maxFetchTimePerShardSec"] == 1
        # sub-second values round up to a usable 1 s, 2500 → 3
        assert connectors.map_kinesis_options(
            {"streamName": "s1", "maxFetchTimeInMs": 200}
        )["kinesis.maxFetchTimePerShardSec"] == 1
        assert connectors.map_kinesis_options(
            {"streamName": "s1", "maxFetchTimeInMs": 2500}
        )["kinesis.maxFetchTimePerShardSec"] == 3

    def test_kinesis_starting_position_forms(self):
        def pos(v):
            return connectors.map_kinesis_options(
                {"streamName": "s1", "startingPosition": v}
            )["kinesis.startingPosition"]

        assert pos("latest") == "LATEST"
        assert pos("trim_horizon") == "TRIM_HORIZON"
        # Glue accepts 'earliest'; the connector's name for it is TRIM_HORIZON
        assert pos("earliest") == "TRIM_HORIZON"
        # timestamp values pass through byte-for-byte (no uppercasing)
        assert pos("2024-01-01t00:00:00z") == "2024-01-01t00:00:00z"
        assert pos("2024-06-30 12:00:00 Europe/Paris") == \
            "2024-06-30 12:00:00 Europe/Paris"

    def test_non_broker_type_rejected_by_resolver(self):
        with pytest.raises(ValueError, match="not a broker"):
            connectors.resolve_stream_source("s3", {"path": "/x"})

    def test_context_file_backed_dispatch_still_streams(self, spark, scratch):
        from aws_etl_bank_spark.context import EngineContext

        src = f"{scratch}/broker_dispatch_file"
        spark.createDataFrame([(1, "a")], "id long, v string") \
            .write.mode("overwrite").parquet(src)
        ctx = EngineContext(spark)
        schema = spark.read.parquet(src).schema
        df = ctx.create_data_frame_from_options(
            "s3", {"path": src, "schema": schema}, format="parquet")
        assert df.isStreaming


@pytest.fixture()
def stream_source(spark, scratch, request):
    """A file-based stream fed from small parquet batches."""
    import uuid

    src = f"{scratch}/stream_src_{uuid.uuid4().hex[:8]}"
    spark.createDataFrame(
        [(1, "click", 2.0), (2, "view", 3.0)], "id long, event_type string, value double"
    ).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    return spark.readStream.schema(schema).parquet(src)


def test_for_each_batch_requires_window_and_checkpoint(stream_source):
    with pytest.raises(ValueError, match="windowSize"):
        runner.for_each_batch(stream_source, lambda df, bid: None, {})


def test_window_size_validation():
    with pytest.raises(ValueError):
        runner._parse_window_size("whenever")
    assert runner._parse_window_size("5 seconds") == "5 seconds"


def test_for_each_batch_runs_and_emits_metrics(stream_source, scratch):
    seen = []
    metrics = runner.for_each_batch(
        stream_source,
        lambda df, bid: seen.append(df.count()),
        {"windowSize": "1 seconds", "checkpointLocation": f"{scratch}/ckpt1",
         "availableNow": True},
    )
    assert seen == [2]
    assert metrics and metrics[0]["numRecords"] == 2


def test_for_each_batch_retries_then_succeeds(stream_source, scratch):
    attempts = []

    def flaky(df, bid):
        attempts.append(bid)
        if len(attempts) < 2:
            raise RuntimeError("transient")

    metrics = runner.for_each_batch(
        stream_source, flaky,
        {"windowSize": "1 seconds", "checkpointLocation": f"{scratch}/ckpt2",
         "availableNow": True, "batchMaxRetries": 3},
    )
    assert len(attempts) == 2  # one failure + one retry
    assert metrics[0]["numRecords"] == 2


def test_for_each_batch_exhausted_retries_raises(stream_source, scratch):
    def always_fails(df, bid):
        raise RuntimeError("permanent")

    with pytest.raises(Exception):
        runner.for_each_batch(
            stream_source, always_fails,
            {"windowSize": "1 seconds", "checkpointLocation": f"{scratch}/ckpt3",
             "availableNow": True, "batchMaxRetries": 1},
        )


def test_windowed_event_counts_batch_parity(spark):
    df = spark.createDataFrame(
        [
            ("2024-01-01 00:10:00", "click", 1.0),
            ("2024-01-01 00:20:00", "click", 2.0),
            ("2024-01-01 01:10:00", "view", 5.0),
        ],
        "ts string, event_type string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    out = {
        (str(r["window_start"]), r["event_type"]): (r["n_events"], r["sum_value"])
        for r in runner.windowed_event_counts(df, "1 hour").collect()
    }
    assert out[("2024-01-01 00:00:00", "click")] == (2, 3.0)
    assert out[("2024-01-01 01:00:00", "view")] == (1, 5.0)


def test_sample_streaming_frame(spark, stream_source):
    out = runner.sample_streaming_frame(
        spark, stream_source,
        {"windowSize": "1 seconds", "pollingTimeInMs": 15000, "recordPollingLimit": 2},
    )
    assert out.count() == 2


def test_session_stats_batch_gap_semantics(spark):
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (1, t0, 1.0),
        (1, t0 + dt.timedelta(minutes=10), 2.0),   # same session
        (1, t0 + dt.timedelta(hours=2), 4.0),      # new session (> 1h gap)
        (2, t0, 8.0),
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    out = {(r["user_id"], r["session_start"]): (r["n_events"], r["sum_value"])
           for r in sessionize.session_stats(ev, gap="1 hour").collect()}
    assert out[(1, t0)] == (2, 3.0)
    assert out[(1, t0 + dt.timedelta(hours=2))] == (1, 4.0)
    assert out[(2, t0)] == (1, 8.0)


def test_session_stats_streaming_append(spark, scratch):
    """The same operator on a watermarked stream: availableNow + append —
    windows whose close precedes the final watermark are emitted."""
    import datetime as dt
    import uuid

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [(1, t0 + dt.timedelta(hours=h), 1.0) for h in range(6)]
    src = f"{scratch}/sess_src_{uuid.uuid4().hex[:8]}"
    spark.createDataFrame(rows, "user_id long, ts timestamp, value double") \
        .write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src).withWatermark("ts", "0 seconds")
    got = runner.run_to_memory(
        sessionize.session_stats(stream, gap="30 minutes"), "append").collect()
    # 6 events 1h apart with a 30-min gap → 6 singleton sessions; all but
    # the last close before the final watermark (max ts)
    assert len(got) == 5
    assert all(r["n_events"] == 1 for r in got)


def test_stateful_user_counts_stream(spark, scratch):
    import uuid

    src = f"{scratch}/state_src_{uuid.uuid4().hex[:8]}"
    spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "c")], "user_id long, x string"
    ).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    sunk = runner.run_to_memory(sessionize.stateful_user_counts(stream), "update")
    got = {r["user_id"]: r["n_events"]
           for r in sunk.groupBy("user_id")
                        .agg(F.max("n_events").alias("n_events")).collect()}
    assert got == {1: 2, 2: 1}


def test_stream_interval_join_batch_equivalence(spark):
    """The same builder runs in batch mode; bounds are inclusive and
    only right rows in [left_ts - bound, left_ts] match."""
    import datetime as dt

    from aws_etl_bank_spark.streaming.joins import stream_interval_join

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    left = spark.createDataFrame(
        [(1, "u", t0)], "click_id int, user_id string, ts timestamp")
    right = spark.createDataFrame(
        [(10, "u", t0 - dt.timedelta(hours=13), 1.0),   # too old
         (11, "u", t0 - dt.timedelta(hours=12), 2.0),   # boundary: in
         (12, "u", t0, 3.0),                             # tie: in
         (13, "u", t0 + dt.timedelta(seconds=1), 4.0),  # after: out
         (14, "v", t0, 5.0)],                            # other key
        "purchase_id int, user_id string, ts timestamp, value double")
    got = sorted(
        r.purchase_id for r in stream_interval_join(
            left, right, on="user_id", left_ts="ts", right_ts="ts",
            bound_before="12 HOURS").collect())
    assert got == [11, 12]


def test_stream_dedup_watermark_variant(spark):
    """dropDuplicatesWithinWatermark path: duplicates inside the horizon
    collapse; the exact path dedups globally."""
    import datetime as dt

    from aws_etl_bank_spark.streaming.joins import stream_dedup

    t0 = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(1, t0), (1, t0 + dt.timedelta(minutes=5)), (2, t0)],
        "k int, ts timestamp")
    assert stream_dedup(df, ["k"]).count() == 2
    # batch frames cannot run dropDuplicatesWithinWatermark: the horizon
    # arguments degrade to exact dedup
    assert stream_dedup(df, ["k"], ts_col="ts", watermark="1 hour").count() == 2


def test_stream_dedup_watermark_streaming_path(spark, tmp_path):
    """The dropDuplicatesWithinWatermark path on a real file stream."""
    import datetime as dt

    from aws_etl_bank_spark.streaming.joins import stream_dedup

    t0 = dt.datetime(2024, 1, 1)
    src = str(tmp_path / "dd_src")
    spark.createDataFrame(
        [(1, t0), (1, t0 + dt.timedelta(minutes=5)), (2, t0)],
        "k int, ts timestamp").write.parquet(src)
    stream = spark.readStream.schema("k int, ts timestamp").parquet(src)
    out = stream_dedup(stream, ["k"], ts_col="ts", watermark="1 hour")
    assert runner.run_to_memory(out, "append").count() == 2


def test_windowed_counts_drop_late_data_across_batches(spark, tmp_path):
    """A REAL multi-batch late-data drop: maxFilesPerTrigger=1 forces
    each parquet file into its own micro-batch (oldest mtime first).
    Batch 0 advances the watermark to 12:00, which EVICTS and emits the
    [10:00,11:00) window at the end of batch 1; the 10:30 straggler in
    batch 2 then targets an already-finalized window and must be
    DISCARDED (a straggler into a still-live window is accepted — Spark
    drops on eviction, not on watermark comparison alone, verified
    empirically).  The availableNow single-batch entries can never show
    this; here the [10:00,11:00) window must count 1, not 2."""
    import datetime as dt
    import glob
    import os

    def _t(s):
        return dt.datetime.fromisoformat(s)

    src = str(tmp_path / "late_src")
    schema = "event_type string, ts timestamp, value double"

    def write_file(rows, mtime):
        before = set(glob.glob(os.path.join(src, "*.parquet")))
        spark.createDataFrame(rows, schema).coalesce(1) \
            .write.mode("append").parquet(src)
        for f in set(glob.glob(os.path.join(src, "*.parquet"))) - before:
            os.utime(f, (mtime, mtime))

    # batch 0: watermark after it = 13:00 - 1h = 12:00
    write_file([("a", _t("2024-01-01 10:00:00"), 1.0),
                ("a", _t("2024-01-01 13:00:00"), 1.0)], 1_000_000_000)
    # batch 1: fresh event; [10:00,11:00) evicted + emitted at its end
    write_file([("a", _t("2024-01-01 14:00:00"), 1.0)], 1_000_000_100)
    # batch 2: straggler into the finalized window -> discarded
    write_file([("a", _t("2024-01-01 10:30:00"), 1.0)], 1_000_000_200)

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    agg = runner.windowed_event_counts(stream, "1 hour", watermark="1 hour")
    rows = {r.window_start: r.n_events
            for r in runner.run_to_memory(agg, "append").collect()}
    # the straggler was dropped: count 1.  (If this reads 2, the
    # watermark did not advance between batches; if the window is
    # missing entirely, append mode never closed it.)
    assert rows == {_t("2024-01-01 10:00:00"): 1}


# ---------------------------------------------------------------------------
# CDC apply into an SCD2 dim (streaming/cdc.py)
# ---------------------------------------------------------------------------


class TestCdcScd2:
    @staticmethod
    def _batch(spark, rows):
        return spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, value double")

    def test_multi_batch_history_and_staleness(self, spark):
        """Two ordered batches: the second change per key closes the first
        version and inserts a new active one; a stale change (older ts
        arriving later) is dropped entirely."""
        from aws_etl_bank_spark.streaming.cdc import apply_cdc_batch

        import datetime as dt

        t = lambda s: dt.datetime(2024, 1, 1, s)
        b1 = self._batch(spark, [(1, t(1), 100, 10.0), (2, t(2), 200, 20.0)])
        dim1 = apply_cdc_batch(None, b1, "user_id", "ts", "event_id", ["value"])
        dim1_rows = spark.createDataFrame(dim1.collect(), dim1.schema)

        # batch 2: user 100 updates (newer), user 200 gets a STALE change
        b2 = self._batch(spark, [(3, t(5), 100, 11.0), (4, t(0), 200, 99.0)])
        dim2 = apply_cdc_batch(dim1_rows, b2, "user_id", "ts", "event_id", ["value"])
        rows = {(r.user_id, r.is_active): r for r in dim2.collect()}

        assert rows[(100, True)].value == 11.0        # new active version
        assert rows[(100, False)].value == 10.0       # old version closed
        assert rows[(200, True)].value == 20.0        # stale change dropped
        assert (200, False) not in rows
        assert dim2.count() == 3

    def test_same_batch_latest_per_key_wins(self, spark):
        from aws_etl_bank_spark.streaming.cdc import apply_cdc_batch

        import datetime as dt

        t = lambda s: dt.datetime(2024, 1, 1, s)
        # two changes for user 100 in ONE batch; same ts -> event_id breaks tie
        b = self._batch(spark, [(1, t(1), 100, 1.0), (2, t(1), 100, 2.0)])
        dim = apply_cdc_batch(None, b, "user_id", "ts", "event_id", ["value"])
        rows = dim.collect()
        assert len(rows) == 1 and rows[0].value == 2.0

    def test_stream_end_to_end_order_invariant(self, spark, scratch):
        """Full cdc_apply_scd2 run over a 3-file feed: final active rows
        equal the max-(ts, event_id) change per key regardless of which
        file lands in which micro-batch."""
        import datetime as dt
        import uuid

        from aws_etl_bank_spark.streaming.cdc import cdc_apply_scd2

        t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)
        rows = [(i, t(i), 100 + (i % 3), float(i)) for i in range(30)]
        feed = self._batch(spark, rows)
        tag = uuid.uuid4().hex[:8]
        src = f"{scratch}/cdc_feed_{tag}"
        import pyspark.sql.functions as F

        for b in range(3):  # one file per append -> up to 3 micro-batches
            (feed.filter((F.col("event_id") >= b * 10) & (F.col("event_id") < (b + 1) * 10))
             .coalesce(1).write.mode("append").parquet(src))
        stream = (spark.readStream.schema(feed.schema)
                  .option("maxFilesPerTrigger", 1).parquet(src))
        dim = cdc_apply_scd2(stream, f"{scratch}/cdc_state_{tag}",
                             key="user_id", value_cols=["value"],
                             checkpoint=f"{scratch}/cdc_ckpt_{tag}")
        active = {r.user_id: r.value for r in dim.filter("is_active").collect()}
        # latest event per key: i=29 -> user 102, i=28 -> user 101, i=27 -> user 100
        # (order-INVARIANT, however files map to micro-batches)
        assert active == {100: 27.0, 101: 28.0, 102: 29.0}
        # history preserved: closed versions exist and every closed version
        # is an older (smaller-value) change of its key than the active one
        closed = dim.filter("NOT is_active").collect()
        assert len(closed) >= 3
        for r in closed:
            assert r.value < active[r.user_id]

    def test_resume_recovers_dim_from_disk(self, spark, scratch):
        """r17 review: a checkpointed restart replays batch ids with an
        empty in-memory versions list — the first handled batch must
        recover the newest COMPLETE on-disk version below its own id,
        not silently re-stamp a fresh dim over the prior run's history.
        Simulated by pre-seeding state_dir with a v0 dim (as a crashed
        prior run would leave) and streaming a feed whose single batch
        replays as id 1 via a hand-advanced checkpoint... simpler and
        equivalent: call cdc_apply_scd2 twice over a growing source dir
        with the SAME state_dir and checkpoint — the second run resumes
        and must retain the first run's keys."""
        import datetime as dt
        import uuid

        from aws_etl_bank_spark.streaming.cdc import cdc_apply_scd2

        t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)
        tag = uuid.uuid4().hex[:8]
        src = f"{scratch}/cdc_feed_{tag}"
        state = f"{scratch}/cdc_state_{tag}"
        ck = f"{scratch}/cdc_ckpt_{tag}"
        first = self._batch(spark, [(1, t(1), 100, 1.0), (2, t(2), 101, 2.0)])
        first.coalesce(1).write.mode("append").parquet(src)
        stream = (spark.readStream.schema(first.schema)
                  .option("maxFilesPerTrigger", 1).parquet(src))
        dim1 = cdc_apply_scd2(stream, state, key="user_id",
                              value_cols=["value"], checkpoint=ck)
        assert {r.user_id for r in dim1.filter("is_active").collect()} \
            == {100, 101}
        # second run: NEW process would have versions=[]; new change for
        # a NEW key arrives — key 100/101 history must survive
        more = self._batch(spark, [(3, t(3), 102, 3.0)])
        more.coalesce(1).write.mode("append").parquet(src)
        stream2 = (spark.readStream.schema(first.schema)
                   .option("maxFilesPerTrigger", 1).parquet(src))
        dim2 = cdc_apply_scd2(stream2, state, key="user_id",
                              value_cols=["value"], checkpoint=ck)
        active = {r.user_id: r.value for r in dim2.filter("is_active").collect()}
        assert active == {100: 1.0, 101: 2.0, 102: 3.0}

    def test_keep_versions_validation(self, spark, scratch):
        import pytest

        from aws_etl_bank_spark.streaming.cdc import cdc_apply_scd2

        df = spark.createDataFrame(
            [(1, None, 1, 1.0)],
            "event_id long, ts timestamp, user_id long, value double")
        feed = f"{scratch}/kv_feed"
        df.write.mode("overwrite").parquet(feed)
        stream = spark.readStream.schema(df.schema).parquet(feed)
        for bad in (0, -1):
            with pytest.raises(ValueError, match="keep_versions"):
                cdc_apply_scd2(stream, f"{scratch}/kv_state",
                               key="user_id", value_cols=["value"],
                               keep_versions=bad)

    def test_keep_versions_bounds_state_and_observer_reports(
            self, spark, scratch):
        """r17: ``keep_versions=2`` leaves only the newest two version
        dirs on disk (older snapshots GC'd AFTER the new write lands),
        the returned dim is still the full merge, and the observer hook
        sees one (batch_id, n_rows, wall) triple per non-empty batch."""
        import datetime as dt
        import os
        import uuid

        import pyspark.sql.functions as F

        from aws_etl_bank_spark.streaming.cdc import cdc_apply_scd2

        t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)
        rows = [(i, t(i), 100 + (i % 3), float(i)) for i in range(30)]
        feed = self._batch(spark, rows)
        tag = uuid.uuid4().hex[:8]
        src = f"{scratch}/cdc_feed_{tag}"
        for b in range(3):
            (feed.filter((F.col("event_id") >= b * 10)
                         & (F.col("event_id") < (b + 1) * 10))
             .coalesce(1).write.mode("append").parquet(src))
        stream = (spark.readStream.schema(feed.schema)
                  .option("maxFilesPerTrigger", 1).parquet(src))
        seen = []
        state = f"{scratch}/cdc_state_{tag}"
        dim = cdc_apply_scd2(
            stream, state, key="user_id", value_cols=["value"],
            checkpoint=f"{scratch}/cdc_ckpt_{tag}", keep_versions=2,
            observer=lambda bid, n, w: seen.append((bid, n, w)))
        active = {r.user_id: r.value
                  for r in dim.filter("is_active").collect()}
        assert active == {100: 27.0, 101: 28.0, 102: 29.0}
        vdirs = sorted(d for d in os.listdir(state) if d.startswith("v"))
        assert len(vdirs) == 2, vdirs
        assert sum(n for _, n, _ in seen) == 30
        assert [bid for bid, _, _ in seen] == sorted(
            bid for bid, _, _ in seen)
        assert all(w >= 0 for _, _, w in seen)


def test_incremental_dedup_batches_equal_global_exact_dedup(spark, tmp_path):
    """Three id-ordered batches with within-batch and cross-batch exact
    duplicates: the streamed kept set must equal global exact dedup with
    lowest-id-wins."""
    import pyspark.sql.functions as F

    from aws_etl_bank_spark.streaming.incremental_dedup import (
        stream_dedup_against_index)

    rows = [(1, "aa bb cc"), (2, "dd ee ff"), (3, "aa bb cc"),   # batch 1
            (4, "gg hh ii"), (5, "dd ee ff"),                    # batch 2
            (6, "aa bb cc"), (7, "jj kk ll"), (8, "jj kk ll")]   # batch 3
    df = spark.createDataFrame(rows, "doc_id long, text string")
    feed = str(tmp_path / "feed")
    df.repartitionByRange(3, "doc_id").write.parquet(feed)
    import os
    parts = sorted(f for f in os.listdir(feed) if f.endswith(".parquet"))
    for i, f in enumerate(parts):
        os.utime(os.path.join(feed, f), (1_000_000 + i, 1_000_000 + i))
    stream = (spark.readStream.schema(df.schema)
              .option("maxFilesPerTrigger", 1).parquet(feed))
    kept = stream_dedup_against_index(stream, str(tmp_path / "state"))
    got = sorted(r["doc_id"] for r in kept.collect())
    assert got == [1, 2, 4, 7]


def test_compaction_crash_leftovers_and_corrupt_manifests(spark, tmp_path):
    """The crash paths of the r17 LSM compaction the end-to-end test
    never reaches:

    1. an UNCOMMITTED ``compact_v<N>`` dir (data written, no marker —
       a crash mid-compaction) is invisible to ``_latest_compact`` and
       is CLEARED by the next compaction attempt at that version;
    2. a manifest marker that parses but is not a dict (a corrupt
       ``null``) also reads as absent — and never breaks discovery;
    3. after a direct ``_compact`` over committed batch dirs the new
       version carries the manifest (upto_batch, n_buckets), the
       absorbed batch dirs are GC'd, and the compacted kept slice
       still equals the exact-dedup survivor set."""
    import os

    from aws_etl_bank_spark.streaming.incremental_dedup import (
        _COMMIT_MARKER, _compact, _latest_compact,
        stream_dedup_against_index)

    rows = [(1, "aa bb cc"), (2, "dd ee ff"),      # batch 0
            (11, "aa bb cc"), (12, "gg hh ii")]    # batch 1 (11 is a dup)
    df = spark.createDataFrame(rows, "doc_id long, text string")
    feed = str(tmp_path / "feed")
    df.repartitionByRange(2, "doc_id").write.parquet(feed)
    parts = sorted(f for f in os.listdir(feed) if f.endswith(".parquet"))
    for i, f in enumerate(parts):
        os.utime(os.path.join(feed, f), (1_000_000 + i, 1_000_000 + i))
    stream = (spark.readStream.schema(df.schema)
              .option("maxFilesPerTrigger", 1).parquet(feed))
    state = str(tmp_path / "state")
    kept = stream_dedup_against_index(stream, state, compact_every=99,
                                      n_buckets=4)
    assert sorted(r["doc_id"] for r in kept.collect()) == [1, 2, 12]

    # (1) crashed attempt: data, no marker
    v0 = os.path.join(state, "compact_v0")
    os.makedirs(os.path.join(v0, "index"))
    with open(os.path.join(v0, "index", "part-junk.parquet"), "wb") as f:
        f.write(b"not parquet")
    # (2) corrupt manifest: parses as JSON null, not a dict
    v5 = os.path.join(state, "compact_v5")
    os.makedirs(v5)
    with open(os.path.join(v5, _COMMIT_MARKER), "w") as f:
        f.write("null")
    assert _latest_compact(state) is None

    from pyspark.sql.types import (IntegerType, LongType, StringType,
                                   StructField, StructType)

    kept_schema = StructType([StructField("doc_id", LongType()),
                              StructField("text", StringType())])
    index_schema = StructType([StructField("doc_id", LongType()),
                               StructField("band", IntegerType()),
                               StructField("band_hash", LongType())])
    _compact(spark, state, upto_batch=1, id_col="doc_id", n_buckets=4,
             kept_schema=kept_schema, index_schema=index_schema)

    cur = _latest_compact(state)
    assert cur is not None
    vdir, version, upto, n_buckets = cur
    # the crashed v0 was cleared and REWRITTEN at version 0 (cur was
    # None, so numbering restarts there), with the manifest intact
    assert (version, upto, n_buckets) == (0, 1, 4)
    assert not os.path.exists(os.path.join(vdir, "index",
                                           "part-junk.parquet"))
    # (3) absorbed batch dirs GC'd; corrupt v5 is invisible but only
    # reclaimed when compaction reaches version 5 (GC sweeps v < new)
    left = sorted(os.listdir(state))
    assert left == ["compact_v0", "compact_v5"], left
    got = (spark.read.schema(kept_schema)
           .parquet(os.path.join(vdir, "kept")))
    assert sorted(r["doc_id"] for r in got.collect()) == [1, 2, 12]


def test_incremental_dedup_state_contract(spark, tmp_path):
    """The r16 append-state machinery's guard rails (r16 review — the
    happy-path test above exercises none of them):

    1. an UNCOMMITTED state dir (kept/index written, no _COMMITTED
       marker — a mid-write crash) is invisible to discovery;
    2. a committed dir is visible, and the below_batch replay filter
       excludes a batch's own dir;
    3. a pre-populated state_dir with NO checkpoint is rejected (batch
       ids would restart at 0 and mix this run's dirs with the stale
       remainder);
    4. a non-local state_dir URI is rejected loudly (discovery and
       markers are driver-local os operations — an s3a:// path would
       silently disable all cross-batch dedup)."""
    import os

    import pytest

    from aws_etl_bank_spark.streaming.incremental_dedup import (
        _COMMIT_MARKER, _committed_state_dirs, stream_dedup_against_index)

    state = tmp_path / "state"
    b0 = state / "b0"
    for leaf in ("kept", "index"):
        (b0 / leaf).mkdir(parents=True)
        (b0 / leaf / "part-0.parquet").write_bytes(b"")
        (b0 / leaf / "_SUCCESS").write_bytes(b"")  # Spark's marker is NOT ours
    assert _committed_state_dirs(str(state)) == []          # (1)
    (b0 / _COMMIT_MARKER).write_bytes(b"")
    assert _committed_state_dirs(str(state)) == [str(b0)]   # (2)
    assert _committed_state_dirs(str(state), below_batch=0) == []
    assert _committed_state_dirs(str(state), below_batch=1) == [str(b0)]

    df = spark.createDataFrame([(1, "aa")], "doc_id long, text string")
    feed = str(tmp_path / "feed")
    df.write.parquet(feed)
    stream = (spark.readStream.schema(df.schema).parquet(feed))
    with pytest.raises(ValueError, match="already holds committed"):
        stream_dedup_against_index(stream, str(state))      # (3)
    with pytest.raises(NotImplementedError, match="not a local path"):
        stream_dedup_against_index(stream, "s3a://bucket/state")  # (4)


def test_incremental_dedup_compaction_preserves_exact_dedup(spark, tmp_path):
    """The r17 LSM-style state compaction end-to-end: a 6-batch feed
    with ``compact_every=2`` triggers three compactions (v0 absorbs
    b0-b1, v1 absorbs v0+b2-b3, v2 absorbs v1+b4-b5).  The kept set
    must still equal global exact dedup with lowest-id-wins — in
    particular duplicates of documents whose batch dirs were ALREADY
    absorbed into a compacted version must be rejected via the
    bucketed compacted slice — and the absorbed inputs (batch dirs,
    superseded versions) must be garbage-collected so state size stays
    bounded."""
    import os

    import pyspark.sql.functions as F

    from aws_etl_bank_spark.streaming.incremental_dedup import (
        _latest_compact, stream_dedup_against_index)

    rows = [(1, "aa bb cc"), (2, "dd ee ff"),                 # batch 0
            (11, "gg hh ii"), (12, "aa bb cc"),               # batch 1
            (21, "jj kk ll"), (22, "dd ee ff"),               # batch 2 (dup of absorbed b0)
            (31, "mm nn oo"), (32, "mm nn oo"),               # batch 3 (within-batch dup)
            (41, "aa bb cc"), (42, "pp qq rr"),               # batch 4 (dup of v1-absorbed)
            (51, "gg hh ii"), (52, "jj kk ll")]               # batch 5 (both dups)
    df = spark.createDataFrame(rows, "doc_id long, text string")
    feed = str(tmp_path / "feed")
    df.repartitionByRange(6, "doc_id").write.parquet(feed)
    parts = sorted(f for f in os.listdir(feed) if f.endswith(".parquet"))
    assert len(parts) == 6
    for i, f in enumerate(parts):
        os.utime(os.path.join(feed, f), (1_000_000 + i, 1_000_000 + i))
    stream = (spark.readStream.schema(df.schema)
              .option("maxFilesPerTrigger", 1).parquet(feed))
    state = str(tmp_path / "state")
    kept = stream_dedup_against_index(stream, state, compact_every=2,
                                      n_buckets=4)
    got = sorted(r["doc_id"] for r in kept.collect())
    assert got == [1, 2, 11, 21, 31, 42]
    cur = _latest_compact(state)
    assert cur is not None and cur[1] == 2 and cur[2] == 5
    leftovers = sorted(d for d in os.listdir(state))
    assert leftovers == ["compact_v2"], leftovers
    # the compacted slices re-register as BUCKETED external tables (the
    # Exchange-free history join this layout exists for) — from catalog
    # metadata alone, as a resumed fresh session would
    from aws_etl_bank_spark.streaming.incremental_dedup import (
        _register_bucketed_over, _table_name)

    spark.sql(f"DROP TABLE IF EXISTS `{_table_name(state, 2, 'index')}`")
    idx = _register_bucketed_over(
        spark, _table_name(state, 2, "index"),
        os.path.join(cur[0], "index"), ["band", "band_hash"], cur[3],
        spark.createDataFrame([], "doc_id long, band int, band_hash long")
        .schema)
    assert sorted(r["doc_id"] for r in idx.select("doc_id").distinct()
                  .collect()) == [1, 2, 11, 21, 31, 42]
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        # the EXACT candidate join handle() runs against the compacted
        # slice: fresh batch band rows vs the registered bucketed index
        # — the history branch must reach its scan Exchange-free (the
        # one Exchange below the join is the O(batch) side
        # repartitioning into the bucket layout)
        from aws_etl_bank_spark.llm.dedup import (band_rows_matches,
                                                  minhash_band_index)

        batch = spark.createDataFrame(
            [(100, "aa bb cc"), (101, "zz yy xx")],
            "doc_id long, text string")
        b_rows = minhash_band_index(batch, "text", "doc_id")
        cand = band_rows_matches(b_rows, idx)
        plan = cand._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    lines = plan.splitlines()
    scan_i = next(i for i, ln in enumerate(lines)
                  if "incdedup_" in ln and "Scan" in ln)
    assert "Bucketed: true" in lines[scan_i]
    join_i = max(i for i, ln in enumerate(lines)
                 if "SortMergeJoin" in ln and i < scan_i)
    # between the join and the bucketed scan, the INDEX branch (the
    # join's second child — its lines carry no ':' continuation marker,
    # unlike the batch-branch subtree) must be Exchange-free; the batch
    # branch is allowed its repartition into the bucket layout (plus
    # the MinHash lineage's own internal exchanges)
    sub = lines[join_i + 1:scan_i + 1]
    index_branch = [ln for ln in sub
                    if ":" not in ln.split("+-")[0]]
    assert not any("Exchange" in ln for ln in index_branch), index_branch
    batch_branch = [ln for ln in sub if ln not in index_branch]
    assert any("Exchange hashpartitioning(band" in ln
               for ln in batch_branch), batch_branch


def test_incremental_dedup_fresh_checkpoint_over_state_rejected(
        spark, tmp_path):
    """r16 advice: the pre-populated-state guard must also fire when a
    checkpoint IS passed but records no progress — a fresh checkpoint
    restarts batch ids at 0 over the existing dirs, the exact collision
    the checkpoint-less guard exists to prevent."""
    import os

    import pytest

    from aws_etl_bank_spark.streaming.incremental_dedup import (
        _COMMIT_MARKER, stream_dedup_against_index)

    state = tmp_path / "state"
    b0 = state / "b0"
    for leaf in ("kept", "index"):
        (b0 / leaf).mkdir(parents=True)
    (b0 / _COMMIT_MARKER).write_bytes(b"")
    df = spark.createDataFrame([(1, "aa")], "doc_id long, text string")
    feed = str(tmp_path / "feed")
    df.write.parquet(feed)
    stream = spark.readStream.schema(df.schema).parquet(feed)
    ck = tmp_path / "ck_fresh"
    ck.mkdir()
    with pytest.raises(ValueError, match="records no progress"):
        stream_dedup_against_index(stream, str(state), checkpoint=str(ck))
    # a checkpoint WITH recorded offsets is a genuine resume and passes
    # the guard (checked on the predicate — driving a real resume needs
    # a checkpoint Spark itself wrote, which the happy-path test's
    # stream_incremental_dedup runs exercise)
    from aws_etl_bank_spark.streaming.incremental_dedup import (
        _checkpoint_has_progress)

    assert _checkpoint_has_progress(str(ck)) is False
    (ck / "offsets").mkdir()
    (ck / "offsets" / "0").write_text("v1")
    assert _checkpoint_has_progress(str(ck)) is True
    assert _checkpoint_has_progress("file://" + str(ck)) is True
    # uninspectable non-file URI: None, and the guard REJECTS it over
    # pre-existing state instead of trusting it (r17 review)
    assert _checkpoint_has_progress("s3a://bucket/ck") is None
    with pytest.raises(ValueError, match="cannot be verified"):
        stream_dedup_against_index(stream, str(state),
                                   checkpoint="s3a://bucket/ck")


def test_tws_runs_with_vendored_protobuf(spark, tmp_path):
    """transformWithStateInPandas (streaming/tws.py) END-TO-END: the
    container ships no protobuf wheel, so ensure_worker_protobuf ships
    the from-scratch vendored runtime (vendor/google/protobuf) to the
    driver-side streaming runner (sc.environment PYTHONPATH) and the
    task workers (addPyFile zip).  The JVM state server parses our
    wire bytes with REAL protobuf, so a green run validates the whole
    encoder/decoder.  Through r11 this surface was env-blocked and
    this test pinned the ImportError; it flipped in r12."""
    import pyspark.sql.functions as F

    from aws_etl_bank_spark.streaming.tws import (ensure_worker_protobuf,
                                                  rocksdb_state_store,
                                                  running_user_totals_tws)

    ensure_worker_protobuf(spark)
    import google.protobuf  # noqa: F401  (importable now, either way)

    df = spark.createDataFrame(
        [(1, 1.25), (1, 2.00), (2, 0.10), (3, -1.005), (1, 0.333)],
        "user_id long, value double")
    feed = str(tmp_path / "feed")
    df.repartition(2).write.parquet(feed)
    stream = (spark.readStream.schema(df.schema)
              .option("maxFilesPerTrigger", 1).parquet(feed))
    totals = running_user_totals_tws(stream)
    assert totals.schema.simpleString() == \
        "struct<user_id:bigint,n_events:bigint,cents:bigint>"

    with rocksdb_state_store(spark):
        sunk = runner.run_to_memory(totals, "update")
    final = (sunk.groupBy("user_id")
             .agg(F.max("n_events").alias("n"),
                  F.max_by("cents", "n_events").alias("c")))
    got = {r["user_id"]: (r["n"], r["c"]) for r in final.collect()}
    # cents canon floor(x*100+0.5): 125+200+33=358, 10, floor(-100.0)=-100
    assert got == {1: (3, 358), 2: (1, 10), 3: (1, -100)}


def test_tws_timer_protocol_roundtrip(spark, tmp_path):
    """Timer surface of transformWithState through the vendored
    protobuf codec: registerTimer / listTimers / deleteTimer all
    round-trip the TimerStateCallCommand protocol (the counts prove
    both registrations landed and one deletion took).  ProcessingTime
    time mode keeps scheduling batches to service pending timers, so
    the query is polled and stopped rather than run availableNow (an
    availableNow run with this time mode never terminates)."""
    import time

    import pandas as pd
    from pyspark.sql.streaming import StatefulProcessor

    from aws_etl_bank_spark.streaming.tws import rocksdb_state_store

    class TimerProto(StatefulProcessor):
        def init(self, handle):
            self._h = handle
            self._st = handle.getValueState("n", "n BIGINT")

        def handleInputRows(self, key, rows, timerValues):
            n = int(self._st.get()[0]) if self._st.exists() else 0
            for pdf in rows:
                n += len(pdf)
            self._st.update((n,))
            self._h.registerTimer(10**15)
            self._h.registerTimer(10**15 + 5)
            before = len(list(self._h.listTimers()))
            self._h.deleteTimer(10**15 + 5)
            after = len(list(self._h.listTimers()))
            self._h.deleteTimer(10**15)
            yield pd.DataFrame({"user_id": [key[0]], "n": [n],
                                "t_before": [before], "t_after": [after]})

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            yield pd.DataFrame({"user_id": [key[0]], "n": [-1],
                                "t_before": [-1], "t_after": [-1]})

        def close(self):
            pass

    df = spark.createDataFrame([(1, 1.0), (2, 2.0), (1, 3.0)],
                               "user_id long, value double")
    feed = str(tmp_path / "feed")
    df.write.parquet(feed)
    stream = spark.readStream.schema(df.schema).parquet(feed)
    with rocksdb_state_store(spark):
        out = stream.groupBy("user_id").transformWithStateInPandas(
            statefulProcessor=TimerProto(),
            outputStructType=("user_id bigint, n bigint, "
                              "t_before bigint, t_after bigint"),
            outputMode="Update", timeMode="ProcessingTime")
        q = (out.writeStream.format("memory").queryName("tws_timer_t")
             .outputMode("update")
             .trigger(processingTime="1 seconds").start())
        deadline = time.time() + 120
        while time.time() < deadline:
            if spark.sql("select * from tws_timer_t").count() >= 2:
                break
            time.sleep(0.5)
        q.stop()
    rows = {r["user_id"]: (r["n"], r["t_before"], r["t_after"])
            for r in spark.table("tws_timer_t").collect()}
    assert rows == {1: (2, 2, 1), 2: (1, 2, 1)}


def test_tws_initial_state_seeding(spark, tmp_path):
    """transformWithStateInPandas initialState: a batch GroupedData
    seeds per-key state via handleInitialState in the first batch;
    the stream then accumulates on top of the seed.  Completes the
    TWS surface (ValueState/ListState/MapState/timers are covered by
    the other tests and the three oracle entries)."""
    import pandas as pd
    from pyspark.sql.streaming import StatefulProcessor

    from aws_etl_bank_spark.streaming.tws import rocksdb_state_store

    class Seeded(StatefulProcessor):
        def init(self, handle):
            self._st = handle.getValueState("n", "n BIGINT")

        def handleInitialState(self, key, initialState, timerValues):
            self._st.update((int(initialState["seed"].iloc[0]),))

        def handleInputRows(self, key, rows, timerValues):
            n = int(self._st.get()[0]) if self._st.exists() else 0
            for pdf in rows:
                n += len(pdf)
            self._st.update((n,))
            yield pd.DataFrame({"user_id": [key[0]], "n": [n]})

        def close(self):
            pass

    seed = spark.createDataFrame([(1, 100), (3, 7)],
                                 "user_id long, seed long")
    df = spark.createDataFrame([(1, 1.0), (2, 2.0), (1, 3.0)],
                               "user_id long, value double")
    feed = str(tmp_path / "feed")
    df.write.parquet(feed)
    stream = spark.readStream.schema(df.schema).parquet(feed)
    with rocksdb_state_store(spark):
        out = stream.groupBy("user_id").transformWithStateInPandas(
            statefulProcessor=Seeded(),
            outputStructType="user_id bigint, n bigint",
            outputMode="Update", timeMode="None",
            initialState=seed.groupBy("user_id"))
        sunk = runner.run_to_memory(out, "update")
    rows = {r["user_id"]: r["n"] for r in sunk.collect()}
    # user 1: seed 100 + 2 events; user 2: no seed + 1 event; user 3's
    # seed exists but no stream rows arrive, so nothing is emitted
    assert rows == {1: 102, 2: 1}


def test_tws_event_time_timer_expiry(spark, tmp_path):
    """Event-time timers (transformWithState timeMode=EventTime): a
    timer registered 5 minutes after a user's last event fires via
    handleExpiredTimer once a LATER batch advances the watermark past
    it — the session-timeout pattern.  Deterministic with an ordered
    two-file feed (maxFilesPerTrigger=1): user 1's timer expires when
    user 2's +20 min batch moves the watermark; user 2's never does."""
    import os
    import time

    import pandas as pd
    import pyspark.sql.functions as F
    from pyspark.sql.streaming import StatefulProcessor

    from aws_etl_bank_spark.streaming.tws import rocksdb_state_store

    class SessionTimeout(StatefulProcessor):
        def init(self, handle):
            self._h = handle
            self._n = handle.getValueState("n", "n BIGINT")

        def handleInputRows(self, key, rows, timerValues):
            n = int(self._n.get()[0]) if self._n.exists() else 0
            last = 0
            for pdf in rows:
                n += len(pdf)
                last = max(last, int(pdf["ts_ms"].max()))
            self._n.update((n,))
            self._h.registerTimer(last + 300_000)
            yield pd.DataFrame({"user_id": [key[0]], "kind": ["data"],
                                "n": [n]})

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            n = int(self._n.get()[0]) if self._n.exists() else -1
            self._h.deleteTimer(expiredTimerInfo.getExpiryTimeInMs())
            yield pd.DataFrame({"user_id": [key[0]], "kind": ["timeout"],
                                "n": [n]})

        def close(self):
            pass

    base = 1_600_000_000_000
    feed = str(tmp_path / "feed")
    os.makedirs(feed)
    f1 = spark.createDataFrame([(1, base), (1, base + 1000)],
                               "user_id long, ts_ms long")
    f2 = spark.createDataFrame([(2, base + 1_200_000)],
                               "user_id long, ts_ms long")
    for i, df in enumerate([f1, f2]):
        tmp_dir = str(tmp_path / f"w{i}")
        df.coalesce(1).write.parquet(tmp_dir)
        import glob
        import shutil
        part = glob.glob(tmp_dir + "/part-*.parquet")[0]
        dst = os.path.join(feed, f"file{i}.parquet")
        shutil.copy(part, dst)
        os.utime(dst, (1_000_000 + i, 1_000_000 + i))

    stream = (spark.readStream.schema("user_id long, ts_ms long")
              .option("maxFilesPerTrigger", 1).parquet(feed)
              .withColumn("ts", F.timestamp_millis(F.col("ts_ms")))
              .withWatermark("ts", "1 minute"))
    with rocksdb_state_store(spark):
        out = stream.groupBy("user_id").transformWithStateInPandas(
            statefulProcessor=SessionTimeout(),
            outputStructType="user_id bigint, kind string, n bigint",
            outputMode="Update", timeMode="EventTime")
        sunk = runner.run_to_memory(out, "update")
    rows = sorted((r["user_id"], r["kind"], r["n"]) for r in sunk.collect())
    assert rows == [(1, "data", 2), (1, "timeout", 2), (2, "data", 1)]


def test_tws_value_state_ttl_expires_between_batches(spark, tmp_path):
    """State TTL end-to-end (ADVICE r12 high): pyspark serializes a TTL
    via ``cmd.ttl.durationMs = ms`` — an auto-vivified sub-message
    write that the vendored protobuf used to DISCARD silently, so TTL
    config never reached the JVM and state never expired.  Two
    micro-batches seconds apart: a ttlDurationMs=1 ValueState must
    come back EMPTY in batch 2 (count restarts), while a no-TTL
    sibling state in the same processor accumulates — proving the TTL
    reached the state server rather than failing open."""
    import pandas as pd
    import pyspark.sql.functions as F
    from pyspark.sql.streaming import (StatefulProcessor,
                                       StatefulProcessorHandle)

    from aws_etl_bank_spark.streaming.tws import rocksdb_state_store

    class TtlCounts(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._ttl = handle.getValueState("ttl_n", "n BIGINT",
                                             ttlDurationMs=1)
            self._all = handle.getValueState("all_n", "n BIGINT")

        def handleInputRows(self, key, rows, timerValues):
            t = self._ttl.get()[0] if self._ttl.exists() else 0
            a = self._all.get()[0] if self._all.exists() else 0
            for pdf in rows:
                t += len(pdf)
                a += len(pdf)
            self._ttl.update((t,))
            self._all.update((a,))
            yield pd.DataFrame({"user_id": [key[0]],
                                "n_ttl": [t], "n_all": [a]})

        def close(self) -> None:
            pass

    feed = str(tmp_path / "feed")
    batch1 = spark.createDataFrame([(1,), (1,), (2,)], "user_id long")
    batch2 = spark.createDataFrame([(1,), (2,)], "user_id long")
    batch1.coalesce(1).write.mode("append").parquet(feed)
    batch2.coalesce(1).write.mode("append").parquet(feed)

    stream = (spark.readStream.schema("user_id long")
              .option("maxFilesPerTrigger", 1).parquet(feed))
    with rocksdb_state_store(spark):
        out = stream.groupBy("user_id").transformWithStateInPandas(
            statefulProcessor=TtlCounts(),
            outputStructType="user_id bigint, n_ttl bigint, n_all bigint",
            outputMode="Update",
            timeMode="ProcessingTime")
        q = (out.writeStream.format("memory").queryName("tws_ttl")
             .outputMode("update").trigger(availableNow=True).start())
        # availableNow does NOT self-terminate here: with a 1 ms TTL in
        # processing-time mode the engine keeps scheduling
        # "no new data but cleaning up state" epochs, so poll the sink
        # for both batches' emissions (2 users x 2 batches) and stop
        import time as _time
        deadline = _time.time() + 180
        while _time.time() < deadline:
            if spark.table("tws_ttl").count() >= 4:
                break
            _time.sleep(0.5)
        q.stop()

    rows = spark.table("tws_ttl").collect()
    assert len(rows) >= 4, rows
    # batches may arrive in either file order; identify the final batch
    # per user by the larger cumulative n_all
    final = {}
    for r in rows:
        if r["user_id"] not in final or r["n_all"] > final[r["user_id"]]["n_all"]:
            final[r["user_id"]] = r
    # no-TTL state accumulated across both batches...
    assert final[1]["n_all"] == 3 and final[2]["n_all"] == 2
    # ...while the 1 ms TTL state expired between them: the final
    # batch's count restarts at that batch's row count alone
    assert final[1]["n_ttl"] < 3 and final[2]["n_ttl"] < 2, dict(
        (k, (v["n_ttl"], v["n_all"])) for k, v in final.items())


# ---------------------------------------------------------------------------
# Run lifecycle: bounded runs leave no query, table or stale scratch behind
# ---------------------------------------------------------------------------

#: registry entries whose streaming query runs through run_to_memory
_RUN_TO_MEMORY_ENTRIES = (
    "stream_window_counts", "stream_stateful_counts",
    "stream_tws_running_totals", "stream_tws_minmax_rows",
    "stream_tws_topk_list", "stream_tws_type_counts_map",
    "stream_stream_join", "stream_dedup_ids", "stream_static_enrich",
    "stream_state_store_read", "stream_state_reader",
)


def test_streaming_entries_leave_no_query_view_or_threads(spark):
    """Two back-to-back passes over every run_to_memory entry at sf0.01:
    after each pass no query is active, no memory view is left, the
    state-store provider is what it was, and the JVM thread count
    after pass 2 stays within a small margin of pass 1.  The margin
    covers the cached exchange pools (60 s keep-alive) and the one
    Python worker factory each transformWithState query adds; Spark
    4.1's checkpoint-checksum pools once leaked about 128 threads per
    run, about 1,400 per pass here.  Each returned frame is read after
    its view was dropped."""
    import os

    from aws_etl_bank_spark.plans.registry import load_registry
    from tests.conftest import SF_SMOKE

    sf_dir = os.path.join(os.path.dirname(SF_SMOKE), "sf0.01")
    provider_conf = "spark.sql.streaming.stateStore.providerClass"
    registry = load_registry()
    threads = (spark.sparkContext._jvm.java.lang.management
               .ManagementFactory.getThreadMXBean())

    def views():
        return {t.name for t in spark.catalog.listTables() if t.isTemporary}

    views_before = views()
    provider_before = spark.conf.get(provider_conf, None)
    counts = []
    for _ in range(2):
        for name in _RUN_TO_MEMORY_ENTRIES:
            out = registry[name].fn(spark, sf_dir)
            assert out.count() > 0, name
        assert spark.streams.active == []
        assert views() == views_before
        assert spark.conf.get(provider_conf, None) == provider_before
        counts.append(threads.getThreadCount())
    assert counts[1] - counts[0] <= 64, counts


def test_scratch_run_sweeps_only_aged_same_prefix_leaves(tmp_path,
                                                         monkeypatch):
    """``_scratch_run`` hands out a fresh leaf per call and removes
    same-prefix run leaves older than 30 minutes; a fresh sibling, an
    aged leaf of another prefix and an aged fixed-name leaf stay."""
    import os
    import time

    from aws_etl_bank_spark.plans import registry

    monkeypatch.setattr(registry, "SCRATCH", str(tmp_path))
    root = tmp_path / "sf0.01"
    root.mkdir()
    aged_run, fresh_run = "ck_" + "a" * 32, "ck_" + "b" * 32
    aged_stamp, other_prefix = "ck_1792390315497", "sink_" + "a" * 32
    hour_ago = time.time() - 3600
    for n in (aged_run, fresh_run, aged_stamp, other_prefix, "ck_feed"):
        (root / n).mkdir()
        if n != fresh_run:
            os.utime(root / n, (hour_ago, hour_ago))

    leaf = registry._scratch_run("/data/sf0.01", "ck")
    assert os.path.dirname(leaf) == str(root)
    assert os.path.basename(leaf).startswith("ck_")
    assert registry._scratch_run("/data/sf0.01", "ck") != leaf
    assert sorted(p.name for p in root.iterdir()) == [
        fresh_run, "ck_feed", other_prefix]
