"""Pipeline runner + reference-parity banking ETL end-to-end
(SURVEY.md §3.3 lifecycle, FIXTURES.md family-A raw zone)."""

import glob
import hashlib
import re

import pytest

from aws_etl_bank_spark import pipeline as pl


def _write_raw_zone(spark, raw_dir):
    """Minimal FIXTURES.md family-A raw CSVs (header, all-strings)."""
    import csv
    import os

    os.makedirs(raw_dir, exist_ok=True)
    tables = {
        "customer": (
            ["cust_id", "cust_nm", "add_id", "opn_dt", "end_dt"],
            [["1", "ann", "a1", "2015-01-02", r"\N"],
             ["2", "bob", "a2", "2016-02-03", r"\N"]],
        ),
        "account": (
            ["acc_id", "cust_id", "acc_type", "opn_dt", "end_dt"],
            [["10", "1", "1", "2015-01-02", r"\N"],
             ["11", "1", "2", "2015-03-04", r"\N"],
             ["20", "2", "1", "2016-02-03", r"\N"]],
        ),
        "account_type": (
            ["type_id", "type_nm", "description", "eff_dt", "mat_dt"],
            [["1", "RGB", "regular", "2015-01-01", "2030-01-01"],
             ["2", "BB", "business", "2015-01-01", "2030-01-01"],
             ["3", "WB", "wealth", "2015-01-01", "2030-01-01"]],
        ),
        "payment_type": (
            ["type_code", "type_nm", "description"],
            [["P01", "normal_payment", "x"], ["P02", "refund_payment", "y"]],
        ),
        "payment_transaction": (
            ["trans_id", "acc_id", "before_balance", "amount", "after_balance",
             "transaction_time", "payment_code"],
            [["100", "10", "0", "25.5", "25", "2021-01-05 10:00:00", "P01"],
             ["101", "10", "25", "10.0", "35", "2021-01-05 11:00:00", "P02"],
             ["102", "11", "0", "99.5", "99", "2021-01-06 09:00:00", "P01"],
             ["103", "20", "0", "7.25", "7", "2021-02-01 12:00:00", "P01"]],
        ),
    }
    for name, (header, rows) in tables.items():
        with open(f"{raw_dir}/{name}.csv", "w", newline="") as f:
            w = csv.writer(f)
            w.writerow(header)
            w.writerows(rows)


@pytest.fixture(scope="module")
def banking_etl(spark, scratch):
    """``run_banking_etl`` over the fixture zone, once per ``fidelity``:
    (returned frame, the frame handed to the fact writer, fact dir)."""
    from pyspark.sql import DataFrameWriter

    from aws_etl_bank_spark.plans.flagship import run_banking_etl

    runs = {}

    def run(fidelity):
        if fidelity not in runs:
            raw, golden = f"{scratch}/raw_etl_{fidelity}", f"{scratch}/golden_etl_{fidelity}"
            _write_raw_zone(spark, raw)
            written = {}
            real_parquet = DataFrameWriter.parquet

            def spy(writer, path, *args, **kwargs):
                written[path] = writer._df
                return real_parquet(writer, path, *args, **kwargs)

            with pytest.MonkeyPatch.context() as mp:
                mp.setattr(DataFrameWriter, "parquet", spy)
                fact = run_banking_etl(spark, raw, golden, fidelity=fidelity)
            fact_dir = f"{golden}/fact_snapshot_daily_transaction"
            runs[fidelity] = fact, written[fact_dir], fact_dir
        return runs[fidelity]

    return run


def test_retry_then_success_with_backoff():
    sleeps = []
    calls = []

    def flaky(ctx):
        calls.append(1)
        if len(calls) < 3:
            raise RuntimeError("throttled")
        return "ok"

    p = pl.Pipeline([pl.Stage("s", flaky, attempts=3, interval_s=10, backoff=10)],
                    sleep=sleeps.append)
    run = p.run()
    assert run.status == "SUCCEEDED"
    assert run.stages[0].attempts == 3
    assert sleeps == [10, 100]  # reference policy: 10 s interval, x10 backoff


def test_exhausted_stage_fails_run_and_stops():
    def boom(ctx):
        raise RuntimeError("nope")

    reached = []
    p = pl.Pipeline([
        pl.Stage("a", boom, attempts=2, interval_s=0.0),
        pl.Stage("b", lambda ctx: reached.append(1)),
    ], sleep=lambda s: None)
    run = p.run()
    assert run.status == "FAILED"
    assert run.failed_stage == "a"
    assert reached == []  # catch-all → Fail: later stages never run


def test_banking_pipeline_end_to_end(spark, scratch):
    from aws_etl_bank_spark.context import EngineContext

    raw = f"{scratch}/raw_zone"
    golden = f"{scratch}/golden_zone"
    _write_raw_zone(spark, raw)
    ctx = EngineContext(spark)
    state = {}
    run = pl.banking_pipeline(spark, raw, golden, engine_ctx=ctx).run(state)
    assert run.status == "SUCCEEDED", run.stages
    assert run.stages[0].result > 0  # fact rows
    assert "fact_snapshot_daily_transaction" in run.stages[1].result
    # the row count observed during the write is what landed on disk
    on_disk = spark.read.parquet(f"{golden}/fact_snapshot_daily_transaction").count()
    assert state["fact_rows"] == run.stages[0].result == on_disk
    # the register stage replaced the crawler: tables are queryable now
    table = ctx.catalog.get_table("golden", "fact_snapshot_daily_transaction")
    assert table.partition_keys == ["p_year"]
    fact = ctx.create_data_frame_from_catalog("golden", "fact_snapshot_daily_transaction")
    assert fact.count() == run.stages[0].result
    dim = ctx.create_data_frame_from_catalog("golden", "customer")
    # SCD2 stamp applied to the scd2 dims
    assert {"is_active", "record_created_time", "record_updated_time"} <= set(dim.columns)


def test_golden_fact_is_year_partitioned(spark, banking_etl):
    import os

    _, _, fact_dir = banking_etl(False)
    parts = [d for d in os.listdir(fact_dir) if d.startswith("p_year=")]
    assert parts  # hive-style partition dirs exist
    # partition pruning: a year-bounded read scans only that partition
    pruned = spark.read.parquet(fact_dir).filter("p_year = 2021")
    assert pruned.count() > 0


def test_fact_write_plan_has_one_cust_exchange_and_no_range_sort(banking_etl):
    """The base aggregate and all three windows partition on supersets
    of cust_id, so the widened fact needs one exchange; the write sorts
    within partitions instead of range-partitioning for a global sort."""
    _, written, _ = banking_etl(False)
    plan = written._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" not in plan
    fact_exchanges = [line for line in plan.splitlines()
                      if "Exchange hashpartitioning" in line and "cust_id" in line]
    assert len(fact_exchanges) == 1, plan
    assert re.search(r"hashpartitioning\(cust_id#\d+, \d+\), REPARTITION_BY_NUM",
                     fact_exchanges[0])
    # the write sort leads with p_year, so the writer adds none of its own
    top = plan.splitlines()[1]
    assert re.search(r"Sort \[p_year#\d+ ASC NULLS FIRST, cust_id#\d+ ASC NULLS FIRST, "
                     r"transaction_date#\d+ ASC NULLS FIRST, acc_id#\d+ ASC NULLS FIRST\], "
                     r"false", top), top


@pytest.mark.parametrize("fidelity", [False, True])
def test_written_fact_files_are_in_reference_order(banking_etl, fidelity):
    import pyarrow.parquet as pq

    _, _, fact_dir = banking_etl(fidelity)
    files = glob.glob(f"{fact_dir}/p_year=*/*.parquet")
    assert files
    for f in files:
        t = pq.read_table(f, columns=["cust_id", "transaction_date", "acc_id"]).to_pylist()
        keys = [(r["cust_id"], r["transaction_date"], r["acc_id"]) for r in t]
        assert keys == sorted(keys), f


#: fact columns that are rounded double aggregates
_AMOUNTS = ("account_daily_spending", "account_accum_spending", "cust_daily_spending",
            "cust_accum_spending", "avg_monthly_spending")


@pytest.mark.parametrize("fidelity", [False, True])
def test_written_fact_equals_returned_ordered_frame(spark, banking_etl, fidelity):
    """Keys exact, amounts within a cent: summed in another order, a
    half-cent tie may round the other way."""
    fact, _, fact_dir = banking_etl(fidelity)
    cols = fact.columns
    amounts = [cols.index(c) for c in _AMOUNTS]

    def split(rows):
        return sorted(([v for i, v in enumerate(r) if i not in amounts],
                       [r[i] for i in amounts]) for r in rows)

    want = fact.collect()
    got = spark.read.parquet(fact_dir).select(*cols).collect()
    assert fact.written_rows == len(want) == len(got) > 0
    for (g_keys, g_amounts), (w_keys, w_amounts) in zip(split(got), split(want)):
        assert g_keys == w_keys
        assert all(abs(g - w) <= 0.011 for g, w in zip(g_amounts, w_amounts))


def test_fact_snapshot_sql_text_is_pinned():
    """Registry entries and oracles run this text; moving the ORDER BY
    into a shared constant must not change a byte of it."""
    from aws_etl_bank_spark.plans.flagship import fact_snapshot_sql

    digest = {f: hashlib.sha256(fact_snapshot_sql(f).encode()).hexdigest()
              for f in (False, True)}
    assert digest == {
        False: "79aa9115a7f225ff3e5f454a1232da15cc20e576ed04dcdf2aee373037a3674b",
        True: "f8329436c1fa7568a8780e275aa3f5cd497937608ac12c9f17e9386f886c3aff",
    }
