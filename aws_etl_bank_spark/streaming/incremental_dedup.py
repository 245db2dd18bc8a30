"""Streaming ingest dedup: each micro-batch of documents is deduped
against the ALREADY-ACCEPTED corpus via the persisted MinHash band index
(llm/dedup.py minhash_band_index) — the composition a production ingest
runs: new data is hashed O(batch), history is only ever JOINED, never
re-hashed.

Semantics are EXACT dedup accelerated by LSH: MinHash banding only
generates candidates (an exact twin collides in every band, so recall on
exact duplicates is total), and acceptance is decided by a text-equality
verify — so the final kept set provably equals batch-global exact dedup
with first-arrival-wins, which is what the DuckDB oracle checks when the
feed is ordered by id.

Scale shape per batch (r17 — the r16 decade audit measured per-batch
latency growing ~1 s/batch with the un-compacted design below): one
window over the batch (within-batch keep), the batch hashed ONCE into
persisted band rows, a banded equi-join of those rows against

  (a) the COMPACTED history — an external parquet table bucketed and
      sorted on BOTH join keys (band, band_hash), so the join leaves
      the history branch entirely Exchange-free (plan pinned in
      tests/test_scale.py): the growing index is scanned in place,
      never re-shuffled, and
  (b) the small UNCOMPACTED TAIL of recent batch dirs (bounded by
      ``compact_every``), read as plain parquet,

then an id-join text verify against the matching kept slice (the
compacted kept table is bucketed on the id column, so that join is
also Exchange-free on the history side), and append-shaped state
growth — each batch persists ONLY its survivors and their band rows
(derived from the already-computed batch band rows, no re-hash) to a
batch-id-keyed dir.  Every ``compact_every`` batches the tail is folded
into a new compacted version and the absorbed dirs are removed, so both
per-batch file count and state size stay bounded: per-batch work is
O(batch) shuffle + a columnar in-place scan of history, and compaction
amortizes to O(history/compact_every) — the LSM-style trade a
transactional table format would make for us.
"""

from __future__ import annotations

import json
import os
import shutil

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from aws_etl_bank_spark.durable import atomic_write
from aws_etl_bank_spark.llm.dedup import band_rows_matches, minhash_band_index
from aws_etl_bank_spark.streaming.runner import run_batches


def _verified_dup_ids(local: DataFrame, batch_bands: DataFrame,
                      slices: list[tuple[DataFrame, DataFrame]],
                      text_col: str, id_col: str) -> DataFrame:
    """Batch ids whose text already exists in ANY (index, kept) history
    slice: banded candidates per slice, each verified by exact text
    equality against ITS OWN kept slice (a candidate's corpus_id only
    resolves in the slice that produced it, and keeping the joins
    per-slice preserves the compacted slice's bucketed co-location —
    a union of bucketed and plain kept rows would force the full
    history back through an Exchange)."""
    bt = local.select(F.col(id_col).alias("batch_id"),
                      F.col(text_col).alias("__bt"))
    parts = []
    for index, kept in slices:
        cand = band_rows_matches(batch_bands, index, id_col)
        parts.append(
            cand.join(bt, "batch_id")
            .join(kept.select(F.col(id_col).alias("corpus_id"),
                              F.col(text_col).alias("__kt")), "corpus_id")
            .where(F.col("__bt") == F.col("__kt"))
            .select(F.col("batch_id").alias(id_col)))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.distinct()


#: our OWN per-batch commit marker (r16 review): keying commit
#: detection on Spark's ``_SUCCESS`` would break under
#: ``mapreduce.fileoutputcommitter.marksuccessfuljobs=false`` (fully
#: written state invisible → every batch sees empty history), and a
#: replay's ``mode("overwrite")`` would rewrite ``index`` while the
#: prior attempt's ``_SUCCESS`` still marked the dir committed.  The
#: marker is written LAST and removed FIRST on replay, so a dir is
#: visible iff both halves of its most recent write attempt finished.
_COMMIT_MARKER = "_COMMITTED"
_COMPACT_PREFIX = "compact_v"


def _require_local_dir(state_dir: str) -> None:
    """This state layout is driver-local-filesystem only (r16 review):
    the parquet reads/writes go through Spark and would accept any
    Hadoop URI, but discovery/markers use ``os`` — an ``s3a://`` or
    ``hdfs://`` state_dir would SILENTLY disable all cross-batch dedup
    (every batch would see empty history).  Fail loudly instead; a
    cluster deployment should back this state with a transactional
    table format rather than a marker scheme."""
    if "://" in state_dir:
        raise NotImplementedError(
            f"stream_dedup_against_index state_dir {state_dir!r} is not a "
            "local path: state discovery and commit markers are "
            "driver-local os operations; use a local directory, or back "
            "the kept/index state with a transactional table")


def _committed_state_dirs(state_dir: str,
                          below_batch: int | None = None,
                          above_batch: int | None = None) -> list[str]:
    """Batch-id-keyed state dirs (``b<id>/``) whose write COMPLETED
    (our ``_COMMITTED`` marker — see ``_COMMIT_MARKER``), optionally
    restricted to ids strictly below ``below_batch`` — on a replay of
    batch b after a mid-write crash, b's own partial dir must not be
    part of the state b dedups against — and/or strictly above
    ``above_batch`` (the uncompacted TAIL: ids a committed compacted
    version has not absorbed)."""
    if not os.path.isdir(state_dir):
        return []
    out = []
    for d in os.listdir(state_dir):
        if not (d.startswith("b") and d[1:].isdigit()):
            continue
        if below_batch is not None and int(d[1:]) >= below_batch:
            continue
        if above_batch is not None and int(d[1:]) <= above_batch:
            continue
        if os.path.exists(os.path.join(state_dir, d, _COMMIT_MARKER)):
            out.append(os.path.join(state_dir, d))
    return sorted(out, key=lambda p: int(os.path.basename(p)[1:]))


def _latest_compact(state_dir: str) -> tuple[str, int, int, int] | None:
    """Newest COMMITTED compacted version under ``state_dir``:
    ``(version_dir, version, upto_batch, n_buckets)``, or None.  A
    version is committed iff its ``_COMMITTED`` marker parses as the
    manifest JSON written by ``_compact`` — a half-written marker (the
    pre-rename tmp never survives, but be safe) reads as absent."""
    if not os.path.isdir(state_dir):
        return None
    best = None
    for d in os.listdir(state_dir):
        if not (d.startswith(_COMPACT_PREFIX)
                and d[len(_COMPACT_PREFIX):].isdigit()):
            continue
        v = int(d[len(_COMPACT_PREFIX):])
        marker = os.path.join(state_dir, d, _COMMIT_MARKER)
        if not os.path.exists(marker):
            continue
        try:
            with open(marker) as f:
                m = json.load(f)
            upto, nb = int(m["upto_batch"]), int(m["n_buckets"])
        except (ValueError, KeyError, OSError, TypeError):
            # TypeError: marker JSON parsed but is not a dict (e.g. a
            # corrupt `null`) — reads as absent like any half-written
            # marker, per the docstring contract
            continue
        if best is None or v > best[1]:
            best = (os.path.join(state_dir, d), v, upto, nb)
    return best


def _table_name(state_dir: str, version: int, leaf: str) -> str:
    """Catalog identifier for a compacted slice's external bucketed
    table — deterministic in (state_dir, version) so a RESUMED session
    re-registers the same name over the same files."""
    import hashlib

    h = hashlib.sha1(os.path.realpath(state_dir).encode()).hexdigest()[:10]
    return f"incdedup_{h}_v{version}_{leaf}"


def _register_bucketed_over(spark: SparkSession, name: str, path: str,
                            bucket_cols: list[str], n_buckets: int,
                            schema) -> DataFrame:
    """Read a compacted slice as a BUCKETED table, re-registering the
    external-table metadata when this session has never seen it (a
    resume into a fresh session): the files were written by Spark's
    bucketed writer, so their bucket-id names satisfy the CLUSTERED BY
    spec being declared over them.  The schema is DECLARED, not
    inferred (an all-duplicates history slice holds zero data files).
    Without the catalog entry a plain parquet read would still be
    correct but lose the bucket metadata — and with it the
    Exchange-free history join this layout exists for."""
    if not spark.catalog.tableExists(name):
        cols = ", ".join(f"`{f.name}` {f.dataType.simpleString()}"
                         for f in schema.fields)
        bc = ", ".join(f"`{c}`" for c in bucket_cols)
        spark.sql(
            f"CREATE TABLE `{name}` ({cols}) USING parquet "
            f"CLUSTERED BY ({bc}) SORTED BY ({bc}) INTO {n_buckets} "
            f"BUCKETS LOCATION '{path}'")
    return spark.table(name)


def _compact(spark: SparkSession, state_dir: str, upto_batch: int,
             id_col: str, n_buckets: int, kept_schema,
             index_schema) -> None:
    """Fold the current compacted version (if any) plus every committed
    batch dir with id ≤ ``upto_batch`` into compacted version j+1:
    index bucketed+sorted on (band, band_hash), kept bucketed+sorted on
    the id column — then publish the manifest marker and GC the
    absorbed inputs.  Crash-safe by the same rule as batch dirs: an
    unmarked version dir is invisible, so a mid-compaction crash just
    leaves the previous version live and a leftover dir that the next
    attempt clears; absorbed batch dirs are only removed AFTER the new
    marker is durable, and a replayed batch whose dir was absorbed
    dedups against state that already contains its own survivors, so
    it rewrites an empty dir AT its old id (at-or-below the waterline,
    invisible to tails and swept by the next compaction) — no loss, no
    dupes.  GC is a full sweep of everything at-or-below the new
    waterline, not just this round's inputs, so dirs orphaned by a
    crash between a previous marker commit and its GC (or by such a
    replay) are reclaimed on the next compaction instead of leaking
    forever."""
    cur = _latest_compact(state_dir)
    prev_upto = cur[2] if cur else -1
    tail = _committed_state_dirs(state_dir, below_batch=upto_batch + 1,
                                 above_batch=prev_upto)
    if not tail:
        return
    # schemas are DECLARED throughout: an all-duplicates batch commits
    # a kept/index dir with zero data files, which schema inference
    # cannot read but a declared-schema scan treats as empty
    idx = spark.read.schema(index_schema).parquet(
        *[os.path.join(p, "index") for p in tail])
    kept = spark.read.schema(kept_schema).parquet(
        *[os.path.join(p, "kept") for p in tail])
    if cur is not None:
        idx = idx.unionByName(spark.read.schema(index_schema).parquet(
            os.path.join(cur[0], "index")))
        kept = kept.unionByName(spark.read.schema(kept_schema).parquet(
            os.path.join(cur[0], "kept")))
    version = (cur[1] + 1) if cur else 0
    vdir = os.path.join(state_dir, f"{_COMPACT_PREFIX}{version}")
    if os.path.exists(vdir):  # uncommitted leftover of a crashed attempt
        shutil.rmtree(vdir)
    for leaf, df, bcols in (("index", idx, ["band", "band_hash"]),
                            ("kept", kept, [id_col])):
        tbl = _table_name(state_dir, version, leaf)
        spark.sql(f"DROP TABLE IF EXISTS `{tbl}`")
        (df.write.format("parquet").mode("overwrite")
         .bucketBy(n_buckets, bcols[0], *bcols[1:])
         .sortBy(bcols[0], *bcols[1:])
         .option("path", os.path.join(vdir, leaf)).saveAsTable(tbl))
    atomic_write(os.path.join(vdir, _COMMIT_MARKER),
                 json.dumps({"upto_batch": upto_batch,
                             "n_buckets": n_buckets}))
    # GC: full sweep of everything at-or-below the new waterline —
    # this round's inputs AND anything a crashed earlier GC or an
    # absorbed-batch replay left behind.  Marker removed FIRST so a
    # crash mid-rmtree leaves an invisible (not half-visible) dir.
    for d in os.listdir(state_dir):
        p = os.path.join(state_dir, d)
        if d.startswith("b") and d[1:].isdigit():
            if int(d[1:]) > upto_batch:
                continue
        elif (d.startswith(_COMPACT_PREFIX)
              and d[len(_COMPACT_PREFIX):].isdigit()):
            v = int(d[len(_COMPACT_PREFIX):])
            if v >= version:
                continue
            for leaf in ("index", "kept"):
                spark.sql(
                    f"DROP TABLE IF EXISTS `{_table_name(state_dir, v, leaf)}`")
        else:
            continue
        m = os.path.join(p, _COMMIT_MARKER)
        if os.path.exists(m):
            os.remove(m)
        shutil.rmtree(p, ignore_errors=True)


def _checkpoint_has_progress(checkpoint: str) -> bool | None:
    """Whether ``checkpoint`` looks like a GENUINE resume point — a
    structured-streaming checkpoint with at least one recorded offset.
    Returns ``None`` for a non-file URI: it cannot be inspected with
    driver-local os calls, and the caller must FAIL rather than trust
    it (r17 review — trusting it silently bypassed the
    fresh-checkpoint-over-existing-state guard, the exact collision the
    guard exists to reject)."""
    p = checkpoint
    if "://" in p:
        if not p.startswith("file:"):
            return None
        from urllib.parse import urlparse

        p = urlparse(p).path
    off = os.path.join(p, "offsets")
    return (os.path.isdir(off)
            and any(not e.startswith(".") for e in os.listdir(off)))


def stream_dedup_against_index(stream: DataFrame, state_dir: str,
                               text_col: str = "text", id_col: str = "doc_id",
                               num_perm: int = 64, bands: int = 16,
                               shingle_n: int = 3,
                               checkpoint: str | None = None,
                               compact_every: int = 8,
                               n_buckets: int = 32,
                               observer=None) -> DataFrame:
    """Run a document stream to completion (availableNow); every
    micro-batch is deduped against the kept corpus, survivors join it,
    and their band-index rows extend the index.  Returns the final kept
    (id, text) corpus.

    State is APPEND-SHAPED with LSM-style compaction (r17 — see the
    module docstring for the per-batch join shape): each batch writes
    ONLY its survivors and their band rows to a batch-id-keyed dir
    (``b<id>/kept``, ``b<id>/index``); whenever ``compact_every``
    committed dirs accumulate past the last compacted waterline they
    are folded (together with the previous compacted version) into
    ``compact_v<j>/`` — external parquet tables bucketed on the join
    keys, against which the per-batch history joins run Exchange-free —
    and the absorbed dirs are garbage-collected.  The state a batch
    dedups against is the latest committed compacted version plus the
    ≤ ``compact_every`` uncompacted tail dirs, so neither per-batch
    file listing nor join-side shuffle grows with feed length; the
    periodic compaction rewrite is the amortized O(history /
    compact_every) price, visible as a latency spike on compaction
    batches.

    Replay contract (r16 review — sharper than the first draft's
    claim): crash recovery holds only WITH a ``checkpoint`` — that is
    what makes a restart replay the same batch ids, so the id-keyed
    dirs line up; each replayed dir drops its ``_COMMITTED`` marker
    before rewriting and re-adds it after, and an uncommitted dir is
    invisible to ``_committed_state_dirs``.  A replayed batch whose dir
    was already absorbed by a compaction sees its own survivors in the
    compacted state and rewrites an empty dir at its old id — at or
    below the waterline, so it never re-enters a tail and the next
    compaction's sweep reclaims it — still exact.  Without a checkpoint a restart re-reads the source
    with ids from 0, which is why a PRE-POPULATED ``state_dir`` is
    REJECTED unless the checkpoint shows recorded progress (r16 advice:
    a fresh/empty checkpoint path over existing state is a collision,
    not a resume — the stale tail would union into the result).
    ``state_dir`` must be a fresh local directory, or the same
    (state_dir, checkpoint) pair as the run being resumed.  Durability
    is process-crash-level: markers are fsynced and rename-published
    (``durable.atomic_write``), but Spark's committer does not fsync
    the parquet payload beneath them — after an OS crash a marker may
    cover incompletely-flushed data files; full power-loss safety needs
    a journaling filesystem with ordered data writes or a transactional
    table format.

    ``observer(batch_id, n_rows, wall_s)`` is ``runner.run_batches``'
    per-batch hook, called after each non-empty micro-batch commits its
    state dir (compaction time included on compaction batches) — the
    hook scripts/incdedup_throughput.py uses so the decade-scale latency
    audit measures THIS function rather than a drift-prone replica of
    it (r16 review)."""
    _require_local_dir(state_dir)
    pre_existing = (_committed_state_dirs(state_dir)
                    or _latest_compact(state_dir) is not None)
    if pre_existing and checkpoint is None:
        raise ValueError(
            f"state_dir {state_dir!r} already holds committed batch state "
            "but no checkpoint was given: without one, batch ids restart "
            "at 0 and this run would overwrite some of the existing dirs "
            "while unioning the stale rest into its result; pass the "
            "original checkpoint to resume, or use a fresh state_dir")
    if pre_existing:
        progress = _checkpoint_has_progress(checkpoint)
        if progress is None:
            raise ValueError(
                f"state_dir {state_dir!r} already holds committed batch "
                f"state and checkpoint {checkpoint!r} is not a local "
                "path, so whether it records progress cannot be "
                "verified; resume with the local checkpoint of the run "
                "that wrote this state, or use a fresh state_dir")
        if not progress:
            raise ValueError(
                f"state_dir {state_dir!r} already holds committed batch "
                f"state but checkpoint {checkpoint!r} records no "
                "progress: a fresh checkpoint restarts batch ids at 0, "
                "overwriting some existing dirs while unioning the stale "
                "rest into the result; pass the checkpoint of the run "
                "that wrote this state, or use a fresh state_dir")

    spark = stream.sparkSession
    from pyspark.sql.types import (IntegerType, LongType, StructField,
                                   StructType)

    kept_schema = stream.select(id_col, text_col).schema
    index_schema = StructType([
        StructField(id_col, kept_schema[id_col].dataType, True),
        StructField("band", IntegerType(), True),
        StructField("band_hash", LongType(), True)])

    def handle(batch_df: DataFrame, batch_id: int):
        batch = batch_df.select(id_col, text_col)
        w = Window.partitionBy(text_col).orderBy(id_col)
        local = (batch.withColumn("__rn", F.row_number().over(w))
                 .filter(F.col("__rn") == 1).drop("__rn")).persist()
        b_rows = minhash_band_index(local, text_col, id_col, num_perm,
                                    bands, shingle_n).persist()
        try:
            cur = _latest_compact(state_dir)
            upto = cur[2] if cur else -1
            tail = _committed_state_dirs(state_dir, below_batch=batch_id,
                                         above_batch=upto)
            slices = []
            if cur is not None:
                slices.append((
                    _register_bucketed_over(
                        spark, _table_name(state_dir, cur[1], "index"),
                        os.path.join(cur[0], "index"),
                        ["band", "band_hash"], cur[3], index_schema),
                    _register_bucketed_over(
                        spark, _table_name(state_dir, cur[1], "kept"),
                        os.path.join(cur[0], "kept"), [id_col], cur[3],
                        kept_schema)))
            if tail:
                slices.append((
                    spark.read.schema(index_schema).parquet(
                        *[os.path.join(p, "index") for p in tail]),
                    spark.read.schema(kept_schema).parquet(
                        *[os.path.join(p, "kept") for p in tail])))
            if slices:
                dup_ids = _verified_dup_ids(local, b_rows, slices,
                                            text_col, id_col)
                survivors = local.join(dup_ids, id_col, "left_anti")
            else:
                survivors = local
            survivors = survivors.persist()
            # the survivors' index rows are a subset of the batch band
            # rows already computed — a semi-join, not a second MinHash
            # pass over the survivor texts
            new_index_rows = b_rows.join(survivors.select(id_col), id_col,
                                         "left_semi")
            out = os.path.join(state_dir, f"b{batch_id}")
            # marker protocol: remove FIRST (a replay rewriting the dir
            # must not look committed mid-rewrite), write both halves,
            # add LAST — a crash anywhere in between leaves the dir
            # invisible
            marker = os.path.join(out, _COMMIT_MARKER)
            if os.path.exists(marker):
                os.remove(marker)
            new_index_rows.write.mode("overwrite").parquet(
                os.path.join(out, "index"))
            survivors.write.mode("overwrite").parquet(
                os.path.join(out, "kept"))
            atomic_write(marker)
            if len(_committed_state_dirs(
                    state_dir, below_batch=batch_id + 1,
                    above_batch=upto)) >= compact_every:
                _compact(spark, state_dir, batch_id, id_col, n_buckets,
                         kept_schema, index_schema)
        finally:
            for df in (local, b_rows):
                df.unpersist()
            try:
                survivors.unpersist()
            except NameError:
                pass

    run_batches(stream, handle, checkpoint, observer)
    cur = _latest_compact(state_dir)
    paths = [os.path.join(p, "kept")
             for p in _committed_state_dirs(
                 state_dir, above_batch=cur[2] if cur else None)]
    if cur is not None:
        paths.insert(0, os.path.join(cur[0], "kept"))
    if not paths:
        raise ValueError("document stream produced no batches")
    return spark.read.schema(kept_schema).parquet(*paths)
