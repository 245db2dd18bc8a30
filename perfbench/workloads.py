"""The benchmark's workloads.  Each is a closed loop with one client: the
next op starts when the previous one returns.

A workload object has ``setup()`` (inputs and stored state), ``op(i)``
(the timed unit of work; returns the items it processed), ``check(i)``
(output checks, outside the timed window; returns counts measured on
disk), ``restore(i)`` (puts stored state back so every op starts from the
same state) and ``input_bytes`` (user input per op, the base of write
amplification).  Ops drive the engine only through its public API.
"""

from __future__ import annotations

import glob
import json
import math
import os
import shutil

import pyspark.sql.functions as F

from aws_etl_bank_spark import scd
from aws_etl_bank_spark.context import EngineContext
from aws_etl_bank_spark.jobstate import BookmarkStore, Job
from aws_etl_bank_spark.operators.dynamicframe import DynamicFrame
from aws_etl_bank_spark.pipeline import Pipeline, banking_pipeline
from aws_etl_bank_spark.sources.catalog import Catalog

from perfbench import gen, oracle
from perfbench.trace import NULL_TRACER


def file_set(path: str) -> set[str]:
    return {os.path.join(root, f) for root, _dirs, files in os.walk(path) for f in files}


class Failed(Exception):
    """An op that returned without raising but did not do its job."""


class NightlyEtl:
    """One op is one full ``banking_pipeline(...).run()`` over the raw
    zone: CSV dims to SCD2-stamped parquet, the fact snapshot to a
    year-partitioned table, then catalog registration.  The golden zone
    is rewritten by every op."""

    SIZES = gen.Sizes(customers=2_400, accounts=12_000, transactions=60_000)
    calls = None
    retries = 0

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.seed, self.tracer = spark, seed, NULL_TRACER
        self.raw = os.path.join(work, "raw")
        self.golden = os.path.join(work, "golden")

    def setup(self):
        self.zone = gen.write_raw_zone(self.raw, self.seed, self.SIZES)
        self.ectx = EngineContext(self.spark, Catalog())

    def _sleep(self, seconds: float):
        # a failed attempt is counted, not slept out: the reference's
        # 10 s / 100 s retry waits would stall the closed loop
        self.retries += 1

    def op(self, i: int) -> int:
        stages = banking_pipeline(self.spark, self.raw, self.golden, self.ectx).stages
        run = Pipeline(self.tracer.wrap_stages(stages), sleep=self._sleep).run()
        if run.status != "SUCCEEDED":
            raise Failed(f"stage {run.failed_stage} failed: "
                         f"{[s.error for s in run.stages if s.error]}")
        return self.zone["transactions"]

    def check(self, i: int) -> dict:
        oracle.check_fact(self.golden, self.raw)
        tables = self.ectx.catalog.get_tables("golden")
        want = sorted(["customer", "account", "account_type", "payment_type",
                       "fact_snapshot_daily_transaction"])
        if tables != want:
            raise Failed(f"catalog holds {tables}, expected {want}")
        files = file_set(self.golden)
        return {"files_written": len(files),
                "bytes_written": sum(os.path.getsize(f) for f in files)}

    def restore(self, i: int):
        pass

    @property
    def input_bytes(self) -> int:
        return self.zone["bytes"]


def valid_payment(rec) -> bool:
    """The ingest filter's predicate.  A row whose amount did not parse
    raises, which the DynamicFrame filter records as an error record."""
    if math.isnan(rec["amount"]):
        raise ArithmeticError(f"unparseable amount in trans {rec['trans_id']}")
    return rec["amount"] > 0


class CountingPredicate:
    """``valid_payment`` that also counts its calls in a Spark accumulator
    (the traced run's view into the Python-worker path)."""

    def __init__(self, accumulator):
        self.calls = accumulator

    def __call__(self, rec) -> bool:
        self.calls.add(1)
        return valid_payment(rec)


#: apply_mapping for a transaction drop: (source, target, type)
DROP_MAPPING = [
    ("trans_id", "trans_id", "bigint"),
    ("acc_id", "acc_id", "bigint"),
    ("before_balance", "before_balance", "bigint"),
    ("amount", "amount", "double"),
    ("after_balance", "after_balance", "bigint"),
    ("transaction_time", "transaction_time", "timestamp"),
    ("payment_code", "payment_code", "string"),
]
#: dim → (natural key, columns a daily update may change)
DIMS = {
    "customer": ("cust_id", ["cust_nm", "add_id", "end_dt"]),
    "account": ("acc_id", ["acc_type", "end_dt"]),
}
JOB = "daily_refresh"


def month_rollup(ectx, p):
    tx = ectx.create_data_frame_from_catalog("golden", "payment_transaction")
    return (tx.where(F.col("p_year") == p["year"])
            .groupBy(F.month("transaction_time").alias("m"))
            .agg(F.count("*").alias("n"), F.round(F.sum("amount"), 2).alias("s")))


def segment_as_of(ectx, p):
    tx = ectx.create_data_frame_from_catalog("golden", "payment_transaction")
    acc = ectx.create_data_frame_from_catalog("golden", "dim_account").where("is_active")
    cust = scd.scd2_as_of(ectx.create_data_frame_from_catalog("golden", "dim_customer"),
                          p["as_of"])
    return (tx.where(F.col("p_year") == p["year"])
            .join(acc.select(F.col("acc_id").cast("bigint").alias("acc_id"),
                             "acc_type", "cust_id"), "acc_id")
            .join(cust.select("cust_id", F.substring("add_id", 1, 2).alias("region")),
                  "cust_id")
            .groupBy("acc_type", "region")
            .agg(F.count("*").alias("n"), F.round(F.sum("amount"), 2).alias("s")))


def top_accounts(ectx, p):
    tx = ectx.create_data_frame_from_catalog("golden", "payment_transaction")
    return (tx.where(F.col("p_year").isin(p["year"] - 1, p["year"]))
            .groupBy("acc_id").agg(F.sum("amount").alias("t"))
            .orderBy(F.desc("t"), "acc_id").limit(p["top_n"])
            .select("acc_id", F.round("t", 2).alias("s")))


def recent_daily(ectx, p):
    tx = ectx.create_data_frame_from_catalog("golden", "payment_transaction")
    return (tx.where((F.col("p_year") == 2024)
                     & (F.col("transaction_time") >= F.date_sub(F.lit(p["as_of"]), 7)))
            .groupBy(F.to_date("transaction_time").alias("d"))
            .agg(F.count("*").alias("n"), F.round(F.sum("amount"), 2).alias("s")))


#: the morning report: named queries an analyst runs through the catalog
REPORT = {f.__name__: f for f in (month_rollup, segment_as_of, top_accounts, recent_daily)}


def file_stamps(path: str) -> dict[str, tuple[int, int]]:
    out = {}
    for f in file_set(path):
        st = os.stat(f)
        out[f] = (st.st_mtime_ns, st.st_size)
    return out


class DailyRefresh:
    """One op is one bank batch window, composed as a Glue script would:
    bookmark the landing zone, ingest the day's transaction drop through
    a DynamicFrame (mapping, Python filter, error channel), append it to
    the golden zone, fold the day's customer and account extracts into
    SCD2 dims that carry history, register everything in the catalog,
    commit the bookmark, then run the morning report through the catalog.

    Set-up writes the base state without the engine: golden transactions
    backfilled over ten years, SCD2 dims that have already merged one
    day of changes, a bookmark that has consumed yesterday's drop, and a
    catalog over all of it.  Every timed op replays the same day (day 1)
    from that state and ``restore`` puts it back, so op cost does not
    grow with run length."""

    CUSTOMERS, ACCOUNTS, BACKFILL = 10_000, 40_000, 200_000
    DROP_ROWS, MALFORMED = 20_000, 37
    UPDATES_PER_DAY, INSERTS_PER_DAY = 400, 100
    FIRST_DAY = "2024-06-01"
    TODAY = 1
    retries = 0

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.seed, self.tracer = spark, seed, NULL_TRACER
        self.landing = os.path.join(work, "landing")
        self.state = os.path.join(work, "state")
        self.base = os.path.join(work, "base_state")
        self.golden_tx = os.path.join(self.state, "golden", "payment_transaction")
        self.calls = None
        self.report_expect = None

    def _day(self, d: int) -> str:
        return str(gen.np.datetime64(self.FIRST_DAY) + d)

    def _path(self, kind: str, name: str, d: int) -> str:
        return os.path.join(self.landing, kind, f"{name}_{d:+03d}.csv")

    def _dim_path(self, dim: str, d: int) -> str:
        return os.path.join(self.state, "dims", f"dim_{dim}", f"v{d:03d}")

    def _drop(self, rng, d: int) -> int:
        day = int((gen.np.datetime64(self._day(d)) - gen.DAY0).astype(int))
        drop = gen.transactions(rng, self.DROP_ROWS, self.ACCOUNTS, first_id=(d + 2) * 10**7,
                                day_lo=day - 30, day_hi=day + 1)
        drop = gen.plant_malformed(rng, drop, self.MALFORMED)
        return gen.write_csv(drop, self._path("drops", "payment_transaction", d))

    def setup(self):
        """Inputs for days -1..1 and the base state of day 0."""
        rng = gen.np.random.default_rng(self.seed)
        for kind in ("extracts", "drops"):
            os.makedirs(os.path.join(self.landing, kind), exist_ok=True)
        make = {"customer": gen.customers,
                "account": lambda r, n, first: gen.accounts(r, n, self.CUSTOMERS, first)}
        ext = {"customer": [gen.customers(rng, self.CUSTOMERS)],
               "account": [gen.accounts(rng, self.ACCOUNTS, self.CUSTOMERS)]}
        self.changed_bytes = 0
        for dim, (key, mutable) in DIMS.items():
            for _day in (0, 1):
                ext[dim].append(gen.changed_extract(
                    rng, ext[dim][-1], key, mutable, self.UPDATES_PER_DAY,
                    self.INSERTS_PER_DAY, make[dim]))
            prev, day0, day1 = ext[dim]
            gen.write_csv(day1, self._path("extracts", dim, self.TODAY))
            self.changed_bytes += oracle.changed_row_bytes(day0, day1, key)
            hist = gen.scd2_history(prev, day0, key, self._day(-1), self._day(0))
            gen.write_parquet(hist, self._dim_path(dim, 0))
        backfill = gen.transactions(rng, self.BACKFILL, self.ACCOUNTS)
        gen.write_parquet(gen.typed_transactions(backfill), self.golden_tx, ["p_year"])
        # yesterday's drop is already consumed; today's is the new one
        self._drop(rng, 0)
        store = BookmarkStore(self._bookmark_path())
        store.filter_new_files("drops", self._drop_pattern())
        store.commit()
        self.drop_bytes = self._drop(rng, self.TODAY)
        catalog = Catalog(os.path.join(self.state, "catalog.json"))
        for dim in DIMS:
            catalog.crawl(self.spark, "golden", f"dim_{dim}", self._dim_path(dim, 0))
        catalog.crawl(self.spark, "golden", "payment_transaction", self.golden_tx,
                      partition_keys=["p_year"])
        self.base_stamps = file_stamps(self.state)
        shutil.copytree(self.state, self.base)
        rng = gen.np.random.default_rng(self.seed + 1)
        self.params = {"year": int(rng.integers(2016, 2025)),
                       "top_n": int(rng.integers(10, 30)), "as_of": self._day(0)}

    def _bookmark_path(self) -> str:
        return os.path.join(self.state, "bookmarks", f"{JOB}.json")

    def _drop_pattern(self) -> str:
        return os.path.join(self.landing, "drops", "*.csv")

    # -- the batch window ---------------------------------------------------

    def _append(self, ectx, df):
        ectx.write_dynamic_frame_from_options(
            DynamicFrame(df.withColumn("p_year", F.year("transaction_time")), ectx,
                         "payment_transaction"),
            "file", {"path": self.golden_tx, "mode": "append", "partitionKeys": ["p_year"]},
            "parquet")

    def op(self, i: int) -> int:
        """Day 1's batch window, from the day-0 state."""
        d = self.TODAY
        ectx = EngineContext(self.spark, Catalog(os.path.join(self.state, "catalog.json")))
        job = Job(ectx, state_dir=os.path.dirname(self._bookmark_path()))
        job.init(JOB, {"job_bookmark_option": "job-bookmark-enable"})
        self.new_files = job.bookmarks.filter_new_files("drops", self._drop_pattern())
        if len(self.new_files) != 1:
            raise Failed(f"bookmark yielded {self.new_files}, expected one new drop")
        with self.tracer.span("dynamicframe.ingest"):
            frame = ectx.create_dynamic_frame_from_options(
                "file", {"path": self.new_files[0]}, "csv", {}, transformation_ctx="drops")
            predicate = valid_payment if self.calls is None else CountingPredicate(self.calls)
            kept = frame.apply_mapping(DROP_MAPPING).filter(
                predicate, transformation_ctx="valid_payment")
            self._append(ectx, kept.toDF().where(F.col("amount").isNotNull()))
            self.errors = kept.errorsCount()
        with self.tracer.span("scd.diff_merge"):
            for dim, (key, _mutable) in DIMS.items():
                extract = ectx.create_dynamic_frame_from_options(
                    "file", {"path": self._path("extracts", dim, d)}, "csv", {}).toDF()
                business = extract.columns
                tracked = [c for c in business if c != key]
                # the diff reads its own copy of the dim: a change set
                # derived from the same DataFrame the merge joins against
                # trips Spark's self-join attribute check
                active = ectx.create_data_frame_from_catalog("golden", f"dim_{dim}")
                diff = scd.snapshot_diff(active.where("is_active").select(*business),
                                         extract, [key], tracked)
                current = ectx.create_data_frame_from_catalog("golden", f"dim_{dim}")
                changes = diff.where(F.col("change_type").isin("I", "U")).select(*business)
                scd.scd2_merge(current, changes, [key], self._day(d), tracked) \
                    .write.parquet(self._dim_path(dim, d))
        for dim in DIMS:
            ectx.catalog.crawl(self.spark, "golden", f"dim_{dim}", self._dim_path(dim, d))
        ectx.catalog.crawl(self.spark, "golden", "payment_transaction", self.golden_tx,
                           partition_keys=["p_year"])
        job.commit()
        self.report = {}
        for name, query in REPORT.items():
            with self.tracer.span(f"analyst.{name}"):
                self.report[name] = [tuple(r) for r in query(ectx, self.params).collect()]
        return self.DROP_ROWS - self.MALFORMED + len(DIMS) * (
            self.UPDATES_PER_DAY + self.INSERTS_PER_DAY)

    # -- checks and restore ------------------------------------------------

    def _written(self) -> list[str]:
        now = file_stamps(self.state)
        return [f for f, st in now.items() if self.base_stamps.get(f) != st]

    def check(self, i: int) -> dict:
        d = self.TODAY
        if self.errors != self.MALFORMED:
            raise Failed(f"errorsCount() is {self.errors}, planted {self.MALFORMED}")
        out = {"error_records": self.errors, "changed_rows": 0, "dim_rows": 0}
        for dim, (key, _mutable) in DIMS.items():
            got = oracle.check_dim(self._dim_path(dim, d), self._dim_path(dim, d - 1),
                                   self._path("extracts", dim, d), key,
                                   self.UPDATES_PER_DAY, self.INSERTS_PER_DAY)
            out["changed_rows"] += got["changed_rows"]
            out["dim_rows"] += got["dim_rows"]
        want = self.BACKFILL + self.DROP_ROWS - self.MALFORMED
        got = oracle.count_rows(self.golden_tx)
        if got != want:
            raise Failed(f"golden transactions hold {got} rows, expected {want}")
        with open(self._bookmark_path()) as fh:
            committed = json.load(fh)["drops"]["files"]
        if committed != sorted(glob.glob(self._drop_pattern())):
            raise Failed(f"bookmark committed {committed}")
        if self.report_expect is None:
            self.report_expect = oracle.report_expectation(
                self.golden_tx, self._dim_path("account", d), self._dim_path("customer", d),
                self.params)
        oracle.check_report(self.report, self.report_expect)
        written = self._written()
        dims = os.path.join(self.state, "dims")
        out.update({
            "files_written": len(written),
            "bytes_written": sum(os.path.getsize(f) for f in written),
            "dim_bytes_written": sum(os.path.getsize(f) for f in written if f.startswith(dims)),
            "report_rows": sum(len(rows) for rows in self.report.values()),
            "predicate_rows": self.DROP_ROWS,
        })
        return out

    def restore(self, i: int):
        """Delete what the op added; copy back from the base what it rewrote."""
        for f in self._written():
            if f in self.base_stamps:
                shutil.copy2(os.path.join(self.base, os.path.relpath(f, self.state)), f)
            else:
                os.remove(f)
        for root, _dirs, _files in os.walk(self.state, topdown=False):
            if not os.path.isdir(os.path.join(self.base, os.path.relpath(root, self.state))):
                os.rmdir(root)

    @property
    def input_bytes(self) -> int:
        return self.drop_bytes + self.changed_bytes


WORKLOADS = {"nightly_etl": NightlyEtl, "daily_refresh": DailyRefresh}
