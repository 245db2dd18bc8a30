"""SparkSession factory tuned for the engine.

The reference runs on AWS Glue 4.0 (= Spark 3.3) with platform defaults —
whole-stage codegen, Tungsten, AQE (SURVEY.md §4).  We make the same
posture explicit and add the knobs that matter at 100 TB:

- AQE on (runtime re-plan, skew-join splitting, partition coalescing).
- ANSI off: the reference reads CSV all-strings and relies on implicit
  string→double casts in SQL aggregates
  (reference r2g_account.py:72,85,164,177,191); Spark 4 defaults ANSI on,
  which would turn those into errors.
- Session timezone UTC so date/timestamp arithmetic is deterministic and
  matches the DuckDB oracle.
- Arrow enabled for the (rare) Pandas-UDF paths.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import SparkSession

log = logging.getLogger(__name__)

#: Runtime confs the engine's results or paths depend on; a session that
#: refuses one would run, but wrong, so applying them raises on failure.
REQUIRED_CONFS = {
    # the flagship SQL's implicit string→double casts (see module doc)
    "spark.sql.ansi.enabled": "false",
    "spark.sql.session.timeZone": "UTC",
    # Spark 4.1 gates DataSourceReader.pushFilters behind this flag and
    # HARD-FAILS a reader that implements it while the flag is off —
    # the engine's Python connector (sources/pyds.py) prunes row
    # groups from pushed filters, so the flag is part of its contract
    "spark.sql.python.filterPushdown.enabled": "true",
    # Some producers (e.g. DuckDB/Arrow) write TIMESTAMP(NANOS) parquet,
    # which Spark rejects by default; read them as nano-longs and convert
    # (see sources.testdata.load_table).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}

#: Tuning confs: a session that refuses one runs the same queries with
#: different plans, so a failure is logged and the run goes on.
OPTIONAL_CONFS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # autoBucketedScan only ever DISABLES bucketed reading, and its
    # benefit rule considers shuffle removal, not bucket PRUNING: with
    # it on, a filtered scan with no downstream join/agg is planned
    # ``Bucketed: false`` and a 1-of-n-buckets point read degrades to a
    # full scan.  Pinned OFF session-wide (ADVICE r14: a registry entry
    # used to flip it mid-session, making later plans order-dependent);
    # the co-located-join entries' exchange-free plans hold either way.
    "spark.sql.sources.bucketing.autoBucketedScan.enabled": "false",
    # At 100 TB, dims (nation/region/payment_type/date) stay broadcast-able;
    # 64 MB covers every dim in the star schema while fact-fact joins
    # correctly fall through to shuffle joins.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Spark 4.1's checkpoint file checksums (default on) spawn a
    # ChecksumCheckpointFileManager thread pool per state partition that
    # outlives the streaming query: measured ~128 threads leaked PER
    # availableNow run (r18 diag, 258→1428 threads after 8 runs), which
    # degrades every later query in a long-lived session, and each
    # checkpoint write pays an extra checksum-file write (2× small-file
    # traffic on the checkpoint store at scale).  The engine's streaming
    # entries run ephemeral availableNow queries against temp
    # checkpoints on checksummed local/HDFS storage, where the integrity
    # re-check adds nothing; with this off, repeated streaming runs
    # measure flat (2.9-3.0 s) instead of drifting up (3.4→4.0+ s).
    # Durable always-on streams on non-checksummed object stores should
    # re-enable it: it is a SQLConf, not a writeStream option, and each
    # query reads it when it starts, so set it with spark.conf.set(...)
    # before calling start().
    "spark.sql.streaming.checkpoint.fileChecksum.enabled": "false",
}

#: Both sets, applied at build time and (idempotently) to sessions handed
#: to us by an external driver.  All are runtime-settable.
RUNTIME_CONFS = {**REQUIRED_CONFS, **OPTIONAL_CONFS}


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime confs to an externally-built session:
    a required conf that cannot be set raises, an optional one is
    logged and skipped."""
    for k, v in REQUIRED_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception as e:
            raise RuntimeError(f"required Spark conf {k}={v} could not be set") from e
    for k, v in OPTIONAL_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception as e:  # noqa: BLE001 — tuning only, see OPTIONAL_CONFS
            log.warning("optional Spark conf %s=%s not applied: %s", k, v, e)
    return spark


def get_spark(
    app_name: str = "aws_etl_bank_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a tuned SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (test harness) and
    should be left unset on a real cluster so spark-submit decides.
    ``shuffle_partitions`` defaults to 32 locally; on a 1000-executor
    cluster you would size this to ~2-3× total cores (AQE coalesces the
    excess at runtime).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        # stage-progress bars share stdout with bench.py's one-line JSON
        # contract; the driver's tail capture is ~2000 chars, so \r-drawn
        # progress noise before the JSON line is a parse hazard (r6
        # verdict item 7)
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.parquet.compression.codec", "snappy")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    for k, v in (extra_confs or {}).items():
        builder = builder.config(k, str(v))
    spark = builder.getOrCreate()
    return apply_runtime_confs(spark)
