"""Streaming CDC apply: fold a change stream into an SCD2 dimension.

The reference's dims are batch snapshots (overwritten wholesale each run,
glue-jobs/jobs/lekietvn/r2g_account.py:85-88) and its streaming path only
aggregates micro-batches (awsglue/context.py:602-664).  This module closes
the gap between the two: a ``foreachBatch`` loop that MERGES each
micro-batch of change events into a history-preserving SCD2 dim (scd.py)
— the standard "CDC feed → warehouse dimension" pattern.

Correctness under re-ordering: a change is applied only if it is strictly
newer than the key's current version by the ``(ts, seq)`` total order —
stale changes (late files, replayed batches) are dropped, so the final
ACTIVE rows are batch-split- and arrival-order-invariant: exactly the
max-``(ts, seq)`` change per key.  That invariant is what the DuckDB
oracle checks; per-batch history semantics are asserted in
tests/test_streaming.py.

Scale shape: per micro-batch one window over the batch (latest change per
key within the batch — batches are bounded) and ONE full-outer join
dim⋈changes (scd2_merge with the staleness test folded into its
``apply_condition``).  The dim is persisted to a new
versioned parquet dir per batch — an explicit, atomic-by-rename stand-in
for a transactional table format; nothing reads and overwrites the same
files in one plan.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from aws_etl_bank_spark.scd import scd2_merge
from aws_etl_bank_spark.streaming.runner import run_batches

SCD_COLS = ["is_active", "record_created_time", "record_updated_time"]


def latest_change_per_key(batch_df: DataFrame, key: str, ts_col: str,
                          seq_col: str) -> DataFrame:
    """One change per key: the batch row with max ``(ts, seq)``."""
    w = Window.partitionBy(key).orderBy(F.col(ts_col).desc(), F.col(seq_col).desc())
    return (batch_df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1).drop("__rn"))


def apply_cdc_batch(current: DataFrame | None, batch_df: DataFrame, key: str,
                    ts_col: str, seq_col: str, value_cols: list[str]) -> DataFrame:
    """Merge one micro-batch of change events into the SCD2 dim
    ``current`` (None ⇒ empty dim) and return the new dim.  Stale
    changes are dropped INSIDE the merge's full-outer join via
    scd2_merge's ``apply_condition`` — a separate pre-join against the
    dim would put its attributes on both sides of the merge join."""
    upd = latest_change_per_key(batch_df, key, ts_col, seq_col).select(
        key, *value_cols, ts_col, seq_col)
    if current is not None:
        newer = (
            (F.col(f"upd.{ts_col}") > F.col(f"cur.{ts_col}"))
            | ((F.col(f"upd.{ts_col}") == F.col(f"cur.{ts_col}"))
               & (F.col(f"upd.{seq_col}") > F.col(f"cur.{seq_col}")))
        )
        # as_of: deterministic event time, never wall clock (scd.py contract)
        return scd2_merge(current, upd, [key],
                          as_of=_batch_as_of(upd, ts_col),
                          apply_condition=newer)
    from aws_etl_bank_spark.scd import scd2_stamp

    return scd2_stamp(upd, _batch_as_of(upd, ts_col))


def _batch_as_of(upd: DataFrame, ts_col: str) -> str:
    """Deterministic as_of for a batch: the date of its max change ts
    (falls back to the epoch for an empty batch — nothing merges then
    anyway).  A bounded one-row aggregate over the already-reduced
    per-key update set, not the raw batch."""
    row = upd.agg(F.max(ts_col).alias("m")).collect()[0]
    return str(row["m"].date()) if row["m"] is not None else "1970-01-01"


def cdc_apply_scd2(stream: DataFrame, state_dir: str, key: str,
                   value_cols: list[str], ts_col: str = "ts",
                   seq_col: str = "event_id",
                   checkpoint: str | None = None,
                   keep_versions: int | None = None,
                   observer=None) -> DataFrame:
    """Run a change stream to completion (availableNow), merging each
    micro-batch into a versioned SCD2 dim under ``state_dir``; returns
    the final dim.  Each batch writes ``state_dir/v{n}`` and the next
    batch reads the previous version — replay-safe and inspectable.

    ``keep_versions`` (r17) bounds state-dir disk to the newest N
    version dirs — without it a long feed stores O(batches × dim)
    parquet (every historical dim snapshot); older versions are removed
    only AFTER the new version's write completes, so the latest dim is
    never the one being deleted.  Default None keeps every version (the
    inspectable-audit shape the registry entry uses on 3 batches).

    ``observer(batch_id, n_rows, wall_s)`` is ``runner.run_batches``'
    per-batch hook — scripts/cdc_throughput.py drives THIS function
    with it for the decade-scale latency audit.

    Checkpointed RESUME (r17 review): a restart replays the same batch
    ids, but the in-memory ``versions`` list starts empty — the first
    handled batch therefore recovers the newest COMPLETE on-disk
    version with id strictly below its own (Spark's ``_SUCCESS`` marks
    completeness; a replayed batch's own half-written dir is excluded
    by the strict bound) instead of silently re-stamping a fresh dim
    over the prior run's history."""
    import shutil

    if keep_versions is not None and keep_versions < 1:
        raise ValueError(
            f"keep_versions must be >= 1 (got {keep_versions}): 0 would "
            "silently keep everything and a negative value would delete "
            "the just-written live version")

    spark = stream.sparkSession
    versions: list[str] = []

    def _disk_versions(below_batch: int) -> list[str]:
        """COMPLETE version dirs (v<id>/_SUCCESS) with id < below_batch,
        oldest first — the recoverable lineage a resumed run sees."""
        if not os.path.isdir(state_dir):
            return []
        out = []
        for d in os.listdir(state_dir):
            if not (d.startswith("v") and d[1:].isdigit()):
                continue
            if int(d[1:]) >= below_batch:
                continue
            if os.path.exists(os.path.join(state_dir, d, "_SUCCESS")):
                out.append(os.path.join(state_dir, d))
        return sorted(out, key=lambda p: int(os.path.basename(p)[1:]))

    def handle(batch_df: DataFrame, batch_id: int):
        if not versions:
            versions.extend(_disk_versions(below_batch=batch_id))
        current = spark.read.parquet(versions[-1]) if versions else None
        merged = apply_cdc_batch(current, batch_df, key, ts_col, seq_col, value_cols)
        # named by batch_id (monotonic per checkpoint), NOT len(versions):
        # after a keep_versions trim the list length falls behind and a
        # length-derived name would overwrite the live newest version
        out = os.path.join(state_dir, f"v{batch_id}")
        merged.write.mode("overwrite").parquet(out)
        versions.append(out)
        if keep_versions is not None and len(versions) > keep_versions:
            for old in versions[:-keep_versions]:
                shutil.rmtree(old, ignore_errors=True)
            del versions[:-keep_versions]

    run_batches(stream, handle, checkpoint, observer)
    if not versions:
        # a resume that found nothing new to replay still has a dim
        versions.extend(_disk_versions(below_batch=2**63))
    if not versions:
        raise ValueError("change stream produced no batches")
    return spark.read.parquet(versions[-1])
