"""Tests for the benchmark's own tooling: span arithmetic, the wrapper
install/uninstall, the event-log parser on a tiny query, and the
generator's guarantees.

    python3 -m pytest perfbench/tests -q
"""

import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen, trace  # noqa: E402


class FakeClock:
    def __init__(self):
        self.now = 0.0

    def __call__(self):
        return self.now


def test_union_length_merges_overlaps():
    assert trace.union_length([]) == 0.0
    assert trace.union_length([(0, 2), (1, 3), (5, 6)]) == 4.0
    assert trace.union_length([(0, 10), (2, 3)]) == 10.0


def test_self_time_subtracts_covered_child_time():
    clock = FakeClock()
    t = trace.Tracer(clock)
    t.op = 7
    with t.span("op"):
        clock.now = 1.0
        with t.span("a"):
            clock.now = 3.0
            with t.span("a.inner"):
                clock.now = 4.0
        with t.span("b"):               # overlaps nothing, adjacent to a
            clock.now = 6.0
        clock.now = 10.0
    by_name = {s.name: s for s in t.spans}
    selfs = trace.self_times(t.spans)
    assert by_name["op"].duration == 10.0
    assert selfs[by_name["op"].id] == 10.0 - 5.0      # a (1..4) and b (4..6)
    assert selfs[by_name["a"].id] == 3.0 - 1.0
    assert selfs[by_name["a.inner"].id] == 1.0
    assert by_name["a.inner"].parent == by_name["a"].id
    assert {s.op for s in t.spans} == {7}


def test_install_wraps_and_uninstall_restores():
    from aws_etl_bank_spark.jobstate import BookmarkStore
    from aws_etl_bank_spark.sources.catalog import Catalog

    before = (Catalog.crawl, BookmarkStore.filter_new_files)
    t = trace.Tracer()
    t.install()
    try:
        assert Catalog.crawl is not before[0]
        assert Catalog.crawl.__wrapped__ is before[0]
    finally:
        t.uninstall()
    assert (Catalog.crawl, BookmarkStore.filter_new_files) == before


def test_bookmark_wrapper_records_new_file_count(tmp_path):
    from aws_etl_bank_spark.jobstate import BookmarkStore

    for name in ("a.csv", "b.csv"):
        (tmp_path / name).write_text("x\n")
    t = trace.Tracer()
    t.install()
    try:
        BookmarkStore(str(tmp_path / "state.json")).filter_new_files("ctx", str(tmp_path / "*.csv"))
    finally:
        t.uninstall()
    (span,) = t.spans
    assert span.name == "jobstate.filter_new_files" and span.attrs["new_files"] == 2


@pytest.fixture(scope="module")
def traced_spark(tmp_path_factory):
    from aws_etl_bank_spark.session import get_spark

    log_dir = tmp_path_factory.mktemp("eventlog")
    spark = get_spark("perfbench-test", master="local[2]", shuffle_partitions=4, extra_confs={
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + str(log_dir),
        "spark.eventLog.compress": "false",
        "spark.driver.memory": "1g",
    })
    yield spark, str(log_dir), tmp_path_factory.mktemp("data")
    spark.stop()


def test_prebuilt_scd2_state_matches_the_engine_merge(traced_spark, tmp_path):
    """The daily_refresh base state is written without the engine; it
    must equal what scd2_stamp + scd2_merge produce from the same
    extracts."""
    import numpy as np

    from aws_etl_bank_spark import scd

    spark = traced_spark[0]
    rng = np.random.default_rng(3)
    prev = gen.customers(rng, 60)
    cur = gen.changed_extract(rng, prev, "cust_id", ["cust_nm", "add_id", "end_dt"], 9, 4,
                              gen.customers)
    gen.write_parquet(gen.scd2_history(prev, cur, "cust_id", "2024-05-31", "2024-06-01"),
                      str(tmp_path / "dim"))
    ours = spark.read.parquet(str(tmp_path / "dim"))
    engine = scd.scd2_merge(scd.scd2_stamp(spark.createDataFrame(prev), "2024-05-31"),
                            spark.createDataFrame(cur), ["cust_id"], "2024-06-01")
    cols = engine.columns
    assert sorted(map(tuple, ours.select(*cols).collect())) == \
        sorted(map(tuple, engine.collect()))


def test_event_log_parser_on_a_tiny_query(traced_spark):
    import time

    spark, log_dir, data = traced_spark
    path = str(data / "t")
    spark.range(0, 1000, 1, 4).selectExpr("id", "id % 7 AS k").write.parquet(path)
    n_files = len([f for f in os.listdir(path) if f.endswith(".parquet")])
    t0 = time.time()
    rows = spark.read.parquet(path).where("k = 3").groupBy("k").count().collect()
    t1 = time.time()
    assert rows[0]["count"] == len([i for i in range(1000) if i % 7 == 3])
    spark.stop()   # drains the listener bus and closes the event log

    idx = trace.index_events(trace.read_event_log(log_dir))
    m = trace.spark_metrics(idx, t0, t1 + 1)
    assert m["spark.jobs"] >= 1 and m["spark.stages"] >= 1 and m["spark.tasks"] >= 1
    assert m["spark.executor_run_s"] >= 0 and m["spark.input_bytes"] > 0
    assert m["spark.shuffle_write_bytes"] > 0
    assert 0 <= m["spark.driver_gap_s"] <= (t1 + 1 - t0)
    files, scanned = trace.scan_totals(idx, [(t0, t1)])
    assert files == n_files
    assert scanned == 1000      # rows the scan produced, before the filter
    assert m["spark.output_bytes"] == 0     # the write ran before t0


def test_spark_metrics_driver_gap_on_synthetic_stages():
    idx = trace.EventIndex(
        stages=[{"start": 1.0, "end": 3.0, "tasks": 2}, {"start": 2.0, "end": 4.0, "tasks": 1},
                {"start": 9.0, "end": 12.0, "tasks": 1}],
        tasks=[{"end": 2.5, "run_s": 1.0, "cpu_s": 0.5, "gc_s": 0.1, "shuffle_read_bytes": 0,
                "shuffle_write_bytes": 10, "spill_bytes": 0, "input_bytes": 5,
                "output_bytes": 0}],
        jobs=[0.5, 20.0], scans=[])
    m = trace.spark_metrics(idx, 0.0, 10.0)
    # stages cover 1..4 and 9..10 of the 10 s interval
    assert m["spark.driver_gap_s"] == pytest.approx(10.0 - 4.0)
    assert m["spark.jobs"] == 1 and m["spark.stages"] == 2 and m["spark.tasks"] == 1


def test_generator_is_seeded_and_dated_inside_the_date_dim():
    a = gen.raw_zone(5, gen.Sizes(50, 200, 1000))
    b = gen.raw_zone(5, gen.Sizes(50, 200, 1000))
    assert all(a[k].equals(b[k]) for k in a)
    days = a["payment_transaction"].transaction_time.str.slice(0, 10)
    assert days.min() >= "2015-01-01" and days.max() <= "2024-12-31"


def test_generator_writes_a_zone_with_a_non_empty_fact(tmp_path):
    zone = gen.write_raw_zone(str(tmp_path / "raw"), 5, gen.Sizes(50, 200, 1000))
    assert zone["fact_rows"] > 0 and zone["transactions"] == 1000
    assert sorted(os.listdir(tmp_path / "raw")) == sorted(
        f"{t}.csv" for t in ("customer", "account", "account_type", "payment_type",
                             "payment_transaction"))


def test_generator_refuses_an_empty_fact(tmp_path, monkeypatch):
    real = gen.raw_zone

    def out_of_range(seed, sizes):
        zone = real(seed, sizes)
        t = zone["payment_transaction"]
        zone["payment_transaction"] = t.assign(
            transaction_time="2030" + t.transaction_time.str.slice(4))
        return zone

    monkeypatch.setattr(gen, "raw_zone", out_of_range)
    with pytest.raises(ValueError, match="empty fact"):
        gen.write_raw_zone(str(tmp_path / "raw"), 1, gen.Sizes(10, 20, 100))
    assert not os.path.exists(tmp_path / "raw")


def test_fact_check_is_keyed_and_catches_one_dropped_transaction(tmp_path):
    import duckdb

    from perfbench import oracle

    raw, golden = str(tmp_path / "raw"), str(tmp_path / "golden")
    gen.write_raw_zone(raw, 2, gen.Sizes(50, 200, 2000))
    fact = os.path.join(golden, "fact_snapshot_daily_transaction")
    os.makedirs(golden)
    duckdb.sql(f"""COPY (SELECT d AS transaction_date, cust_id, acc_id,
                              n AS account_no_transactions_daily, s AS account_daily_spending,
                              year(d) AS p_year
                       FROM ({oracle._fact_groups(raw)}))
                   TO '{fact}' (FORMAT PARQUET, PARTITION_BY (p_year))""")
    oracle.check_fact(golden, raw)

    # drop the cheapest transaction of a group that holds several: the
    # per-year row count does not change and its total moves by little
    tx = os.path.join(raw, "payment_transaction.csv")
    rows = duckdb.sql(f"""
        SELECT trans_id, amount FROM {oracle._csv(tx)}
        QUALIFY COUNT(*) OVER (PARTITION BY acc_id, transaction_time::DATE) > 1
        ORDER BY CAST(amount AS DOUBLE) LIMIT 1""").fetchall()
    assert rows
    with open(tx) as fh:
        lines = fh.readlines()
    drop = f"{rows[0][0]},"
    kept = [ln for ln in lines if not ln.startswith(drop)]
    with open(tx, "w") as fh:
        fh.writelines(kept)
    with pytest.raises(oracle.CheckFailed, match="1 keys"):
        oracle.check_fact(golden, raw)


def test_reap_descendants_waits_for_orphaned_grandchildren():
    """A shell that backgrounds two sleeps and exits orphans them, as the
    JVM's exit orphans Spark's Python worker daemon.  As a subreaper the
    run adopts them; reaping kills them at the deadline and waits until
    none is left.  Runs in its own interpreter, so it cannot reap this
    test process's Spark JVM."""
    import subprocess

    script = (
        "import os, subprocess, sys, time\n"
        f"sys.path.insert(0, {ROOT!r})\n"
        "from perfbench import run\n"
        "run.become_subreaper()\n"
        "subprocess.run(['sh', '-c', 'sleep 30 & sleep 30 & exit 0'], check=True)\n"
        "before = len(run._descendants(os.getpid()))\n"
        "t = time.monotonic()\n"
        "run.reap_descendants(timeout=0.5)\n"
        "print(before, len(run._descendants(os.getpid())), time.monotonic() - t < 10)\n"
    )
    out = subprocess.run([sys.executable, "-c", script], capture_output=True, text=True,
                         timeout=60, check=True).stdout.split()
    assert out == ["2", "0", "True"]
