"""transformWithStateInPandas (Spark 4's arbitrary-stateful-processing
API, the successor of applyInPandasWithState used by
streaming/sessionize.py): a ``StatefulProcessor`` with named typed state
slots managed by the state store — here a per-user running (count,
cents) pair carried across micro-batches.

The API requires the RocksDB state-store provider (bundled with Spark —
no extra jar); callers build and start their queries inside
``with rocksdb_state_store(spark):``, which ships the protobuf
runtime, sets ``spark.sql.streaming.stateStore.providerClass`` and
restores its previous value on exit.  State lives in the store, NOT
the Python worker: per key only the two int64s round-trip per batch,
so state size scales with keys, not events — the property that makes
the operator viable on an unbounded 100 TB stream.

The container ships no protobuf wheel, and transformWithState's Python
worker speaks protobuf to the JVM state server
(pyspark/sql/streaming/proto/StateMessage_pb2.py imports
``google.protobuf`` and died with
``STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE`` through r11).
UNBLOCKED in r12 by ``aws_etl_bank_spark/vendor/google/protobuf`` — a
from-scratch runtime implementing the public Protocol Buffers wire
format (same play as the repo's Avro/JPEG/PNG/GIF codecs):
``ensure_worker_protobuf`` puts it on the driver's ``sys.path`` and
ships it to every Python worker as an ``addPyFile`` zip, after which
the generated StateMessage module loads and the state protocol runs
end-to-end against the JVM's real protobuf parser.  A real
``google.protobuf`` wheel, if one ever appears, wins automatically
(the helper only engages when the import fails).
"""

from __future__ import annotations

import contextlib
import os
import sys
import tempfile
import zipfile

from pyspark.sql import DataFrame

ROCKSDB_PROVIDER = ("org.apache.spark.sql.execution.streaming."
                    "state.RocksDBStateStoreProvider")

_VENDOR_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "vendor")


def ensure_worker_protobuf(spark) -> bool:
    """Make ``google.protobuf`` importable on the driver AND every
    Python worker.  Returns True when the vendored runtime was engaged,
    False when a real protobuf distribution is already importable.

    Worker delivery rides the standard pyFiles channel: the vendored
    package is zipped once and ``addPyFile``-ed, so each Python worker
    (including long-lived reused ones) inserts it into ``sys.path``
    during its per-task include setup — the same mechanism that ships
    user modules to executors on a real cluster, so the story is
    identical at 1000 executors."""
    try:
        import google.protobuf as _gpb
        # A DRIVER-side import succeeding is NOT enough to skip worker
        # shipping: the vendored runtime may already be on the
        # driver's sys.path (any prior ensure call, or a test module
        # importing it directly) while the workers still know nothing.
        # Only a REAL protobuf distribution makes shipping redundant.
        if "sparkgraft-vendored" not in getattr(_gpb, "__version__", ""):
            return False
    except ImportError:
        if _VENDOR_DIR not in sys.path:
            sys.path.insert(0, _VENDOR_DIR)
        import google.protobuf  # noqa: F401  (driver side resolves now)

    sc = spark.sparkContext
    if not getattr(sc, "_graft_protobuf_shipped", False):
        zpath = os.path.join(tempfile.gettempdir(),
                             "graft_vendored_protobuf.zip")
        if not os.path.exists(zpath):
            tmp = zpath + f".tmp-{os.getpid()}"
            with zipfile.ZipFile(tmp, "w") as zf:
                for root, _dirs, files in os.walk(
                        os.path.join(_VENDOR_DIR, "google")):
                    for f in files:
                        if f.endswith(".py"):
                            full = os.path.join(root, f)
                            zf.write(full,
                                     os.path.relpath(full, _VENDOR_DIR))
            os.replace(tmp, zpath)
        sc.addPyFile(zpath)
        # transformWithState ALSO spawns a driver-side streaming runner
        # (transform_with_state_driver_worker.py, schema pre-init) that
        # does NOT process pyFiles includes; its PYTHONPATH is merged
        # from the PythonFunction's env map, which pyspark fills from
        # sc.environment.  Must be set BEFORE the UDF is built (the env
        # snapshot is taken at transformWithStateInPandas call time).
        prev = sc.environment.get("PYTHONPATH", "")
        if _VENDOR_DIR not in prev.split(os.pathsep):
            sc.environment["PYTHONPATH"] = (
                _VENDOR_DIR + ((os.pathsep + prev) if prev else ""))
        sc._graft_protobuf_shipped = True
    return True


_PROVIDER_CONF = "spark.sql.streaming.stateStore.providerClass"


@contextlib.contextmanager
def rocksdb_state_store(spark):
    """Run the enclosed block on the RocksDB state-store provider.

    Ships the protobuf runtime first (``ensure_worker_protobuf`` must
    run before a transformWithState UDF is built), then sets the
    provider for every query started inside the block; on exit the
    previous value is restored, or the conf unset if there was none."""
    ensure_worker_protobuf(spark)
    prev = spark.conf.get(_PROVIDER_CONF, None)
    spark.conf.set(_PROVIDER_CONF, ROCKSDB_PROVIDER)
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(_PROVIDER_CONF)
        else:
            spark.conf.set(_PROVIDER_CONF, prev)


def running_user_totals_tws(events: DataFrame) -> DataFrame:
    """Per-user cumulative (n_events, cents) via transformWithState —
    update-mode rows emit the running state after each batch, so the
    FINAL row per user (the one with the max count) equals the batch
    aggregate and is oracle-checkable regardless of micro-batch
    splits.  Cents use the floor(x*100+0.5) money canon."""
    import pandas as pd
    import pyspark.sql.functions as F
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._st = handle.getValueState("totals", "n BIGINT, cents BIGINT")

        def handleInputRows(self, key, rows, timerValues):
            n, cents = (tuple(self._st.get()) if self._st.exists()
                        else (0, 0))
            for pdf in rows:
                n += len(pdf)
                cents += int(pdf["cents"].sum())
            self._st.update((n, cents))
            yield pd.DataFrame({"user_id": [key[0]],
                                "n_events": [n], "cents": [cents]})

        def close(self) -> None:
            pass

    src = events.select(
        "user_id",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
        .alias("cents"))
    return src.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=RunningTotals(),
        outputStructType="user_id bigint, n_events bigint, cents bigint",
        outputMode="Update",
        timeMode="None")


def user_topk_values_tws(events: DataFrame, k: int = 3) -> DataFrame:
    """Per-user top-k cent values via ListState: the running top-k list
    lives in the state store (``put``/``get`` the whole k-element list
    per batch — k is a constant, so state per key is O(k), not
    O(events)).  Each batch emits the CURRENT top-k with an ``n_seen``
    marker; since n_seen is strictly increasing per user, the rows with
    the max n_seen are the final top-k — batch-split-invariant, and the
    (rank, cents) pairs are deterministic even under cent ties (equal
    values take consecutive ranks)."""
    import pandas as pd
    import pyspark.sql.functions as F
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    class TopK(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._top = handle.getListState("topk", "cents BIGINT")
            self._n = handle.getValueState("seen", "n BIGINT")

        def handleInputRows(self, key, rows, timerValues):
            cur = ([int(t[0]) for t in self._top.get()]
                   if self._top.exists() else [])
            n = int(self._n.get()[0]) if self._n.exists() else 0
            for pdf in rows:
                n += len(pdf)
                cur.extend(int(c) for c in pdf["cents"])
            cur.sort(reverse=True)
            cur = cur[:k]
            self._top.put([(c,) for c in cur])
            self._n.update((n,))
            yield pd.DataFrame({"user_id": [key[0]] * len(cur),
                                "n_seen": [n] * len(cur),
                                "rank": list(range(1, len(cur) + 1)),
                                "cents": cur})

        def close(self) -> None:
            pass

    src = events.select(
        "user_id",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
        .alias("cents"))
    return src.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=TopK(),
        outputStructType=("user_id bigint, n_seen bigint, "
                          "rank bigint, cents bigint"),
        outputMode="Update",
        timeMode="None")


def user_type_counts_tws(events: DataFrame) -> DataFrame:
    """Per-user per-event_type running counts via MapState: one map
    entry per (user, type) updated with ``getValue``/``updateValue``
    and read back with the full-map ``iterator()`` — the paged
    map-iterator protocol (StateResponseWithMapIterator) under real
    load.  Each batch emits the user's ENTIRE current map with an
    ``n_seen`` marker, so the max-n_seen rows per user are the final
    per-type counts regardless of micro-batch splits."""
    import pandas as pd
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    class TypeCounts(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._m = handle.getMapState("counts", "event_type STRING",
                                         "n BIGINT")
            self._seen = handle.getValueState("seen", "n BIGINT")

        def handleInputRows(self, key, rows, timerValues):
            seen = int(self._seen.get()[0]) if self._seen.exists() else 0
            local: dict[str, int] = {}
            for pdf in rows:
                seen += len(pdf)
                for t, c in pdf["event_type"].value_counts().items():
                    local[t] = local.get(t, 0) + int(c)
            for t, c in local.items():
                prev = (self._m.getValue((t,))
                        if self._m.containsKey((t,)) else None)
                self._m.updateValue((t,), ((int(prev[0]) if prev else 0)
                                           + c,))
            self._seen.update((seen,))
            items = sorted((kk[0], int(vv[0]))
                           for kk, vv in self._m.iterator())
            yield pd.DataFrame({"user_id": [key[0]] * len(items),
                                "n_seen": [seen] * len(items),
                                "event_type": [t for t, _ in items],
                                "n": [c for _, c in items]})

        def close(self) -> None:
            pass

    return events.select("user_id", "event_type") \
        .groupBy("user_id").transformWithStateInPandas(
            statefulProcessor=TypeCounts(),
            outputStructType=("user_id bigint, n_seen bigint, "
                              "event_type string, n bigint"),
            outputMode="Update",
            timeMode="None")


def user_minmax_tws_rows(events: DataFrame) -> DataFrame:
    """ROW-based ``transformWithState`` (the non-pandas twin of
    transformWithStateInPandas — ``handleInputRows`` receives an
    iterator of ``Row``s and yields ``Row``s, Arrow still carrying the
    batches underneath): per-user running (min, max, count) of cents.
    Same update-mode emission contract as the pandas operators — the
    max-count row per user is the final state."""
    import pyspark.sql.functions as F
    from pyspark.sql import Row
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    class MinMax(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._st = handle.getValueState(
                "mm", "lo BIGINT, hi BIGINT, n BIGINT")

        def handleInputRows(self, key, rows, timerValues):
            if self._st.exists():
                lo, hi, n = tuple(self._st.get())
            else:
                lo, hi, n = None, None, 0
            for row in rows:
                c = row["cents"]
                lo = c if lo is None or c < lo else lo
                hi = c if hi is None or c > hi else hi
                n += 1
            self._st.update((lo, hi, n))
            yield Row(user_id=key[0], lo=lo, hi=hi, n_events=n)

        def close(self) -> None:
            pass

    src = events.select(
        "user_id",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
        .alias("cents"))
    return src.groupBy("user_id").transformWithState(
        statefulProcessor=MinMax(),
        outputStructType=("user_id bigint, lo bigint, hi bigint, "
                          "n_events bigint"),
        outputMode="Update",
        timeMode="None")
