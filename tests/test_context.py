"""EngineContext / catalog / bookmark tests (SURVEY.md §2.1, §2.13)."""

import os

import pytest

from aws_etl_bank_spark.context import EngineContext
from aws_etl_bank_spark.jobstate import BookmarkStore, Job, getResolvedOptions
from aws_etl_bank_spark.sources.catalog import Catalog


@pytest.fixture()
def ctx(spark):
    return EngineContext(spark, Catalog())


def _write_parquet(spark, path, rows="id long, v string"):
    spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], rows) \
        .write.mode("overwrite").parquet(path)


def test_crawl_then_catalog_read(ctx, scratch):
    path = f"{scratch}/cat_tbl"
    _write_parquet(ctx.spark, path)
    ctx.catalog.crawl(ctx.spark, "db1", "t1", path)
    frame = ctx.create_dynamic_frame_from_catalog("db1", "t1")
    assert frame.count() == 3
    assert ctx.get_catalog_schema_as_spark_schema("db1", "t1").fieldNames() == ["id", "v"]


def test_catalog_pushdown_partition_predicate(ctx, scratch):
    path = f"{scratch}/part_tbl"
    ctx.spark.createDataFrame(
        [(1, "x", "2024"), (2, "y", "2024"), (3, "z", "2025")],
        "id long, v string, year string",
    ).write.mode("overwrite").partitionBy("year").parquet(path)
    ctx.catalog.create_table("db1", "part", path, partition_keys=["year"])
    frame = ctx.create_dynamic_frame_from_catalog(
        "db1", "part", push_down_predicate="year = '2024'")
    assert frame.count() == 2
    # partition pruning must reach the scan, not a post-filter
    plan = frame.toDF()._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan or frame.toDF().rdd.getNumPartitions() <= 2


def test_from_options_roundtrip(ctx, scratch):
    path = f"{scratch}/opts_tbl"
    _write_parquet(ctx.spark, path)
    frame = ctx.create_dynamic_frame_from_options(
        "file", {"path": path}, format="parquet")
    assert frame.count() == 3


def test_sink_write_returns_errors_frame(ctx, scratch):
    frame = ctx.create_dynamic_frame_from_rdd([(1, "a")], "f", schema="id long, v string")
    out = ctx.write_dynamic_frame_from_options(
        frame, "file", {"path": f"{scratch}/sink_out"}, format="parquet")
    assert out.errorsCount() == 0
    assert ctx.spark.read.parquet(f"{scratch}/sink_out").count() == 1


def test_catalog_sink(ctx, scratch):
    path = f"{scratch}/cat_sink"
    ctx.catalog.create_table("db1", "out", path)
    frame = ctx.create_dynamic_frame_from_rdd([(7, "q")], "f", schema="id long, v string")
    ctx.write_dynamic_frame_from_catalog(frame, "db1", "out")
    assert ctx.spark.read.parquet(path).count() == 1


def test_sample_readers(ctx, scratch):
    path = f"{scratch}/sample_tbl"
    _write_parquet(ctx.spark, path)
    ctx.catalog.crawl(ctx.spark, "db1", "samp", path)
    assert ctx.create_sample_dynamic_frame_from_catalog("db1", "samp", 2).count() == 2
    assert ctx.create_sample_dynamic_frame_from_options(
        "file", {"path": path}, num=1, format="parquet").count() == 1


def test_jdbc_conf_registry(ctx):
    ctx.register_jdbc_connection("pg", {"url": "jdbc:postgresql://h/db", "user": "u"})
    assert ctx.extract_jdbc_conf("pg")["user"] == "u"
    with pytest.raises(KeyError):
        ctx.extract_jdbc_conf("missing")


def test_jdbc_conf_registry_is_per_context(ctx):
    from aws_etl_bank_spark.context import EngineContext

    ctx.register_jdbc_connection("mine", {"url": "jdbc:postgresql://h/db"})
    other = EngineContext(ctx.spark)
    # credentials registered on one context must not leak into another
    with pytest.raises(KeyError):
        other.extract_jdbc_conf("mine")


def test_ingestion_time_columns(ctx):
    df = ctx.add_ingestion_time_columns(ctx.spark.range(1), "minute")
    assert {"ingest_year", "ingest_month", "ingest_day", "ingest_hour",
            "ingest_minute"} <= set(df.columns)
    row = df.collect()[0]
    assert len(row["ingest_year"]) == 4 and len(row["ingest_month"]) == 2


def test_transactions_are_tokens(ctx):
    txn = ctx.start_transaction()
    assert ctx.commit_transaction(txn) and ctx.cancel_transaction(txn)


def test_purge_s3_path_respects_retention(ctx, scratch):
    path = f"{scratch}/purge_me"
    _write_parquet(ctx.spark, path)
    # retention 1h → nothing old enough to purge
    assert ctx.purge_s3_path(path, {"retentionPeriod": 1}) == []
    removed = ctx.purge_s3_path(path, {"retentionPeriod": 0})
    assert removed and not os.path.exists(path)


def test_bookmark_store_incremental(scratch, spark):
    src = f"{scratch}/bookmark_src"
    os.makedirs(src, exist_ok=True)
    for name in ("a.csv", "b.csv"):
        with open(f"{src}/{name}", "w") as fh:
            fh.write("x\n1\n")
    store = BookmarkStore(f"{scratch}/bookmarks.json")
    first = store.filter_new_files("ctx1", f"{src}/*.csv")
    assert len(first) == 2
    store.commit()

    with open(f"{src}/c.csv", "w") as fh:
        fh.write("x\n2\n")
    store2 = BookmarkStore(f"{scratch}/bookmarks.json")
    second = store2.filter_new_files("ctx1", f"{src}/*.csv")
    assert [os.path.basename(p) for p in second] == ["c.csv"]


def _tear_writes(monkeypatch):
    """Every file opened for writing from now on takes half of its first
    chunk, then fails like a full disk."""
    import builtins

    real_open = builtins.open

    class TornFile:
        def __init__(self, fh):
            self._fh = fh

        def write(self, data):
            self._fh.write(data[:len(data) // 2])
            self._fh.flush()
            raise OSError("disk full")

        def __getattr__(self, name):
            return getattr(self._fh, name)

        def __enter__(self):
            return self

        def __exit__(self, *exc):
            self._fh.close()

    def torn_open(file, mode="r", *args, **kwargs):
        fh = real_open(file, mode, *args, **kwargs)
        return TornFile(fh) if "w" in mode else fh

    monkeypatch.setattr(builtins, "open", torn_open)


def test_bookmark_commit_survives_a_torn_write(tmp_path, monkeypatch):
    """A commit that dies partway through writing the state file must
    leave the previous bookmark state loadable: a torn file would make
    the next BookmarkStore(...) raise, so the job could not start."""
    src = tmp_path / "src"
    src.mkdir()
    (src / "a.csv").write_text("x\n1\n")
    state = str(tmp_path / "bookmarks.json")
    store = BookmarkStore(state)
    store.filter_new_files("ctx1", str(src / "*.csv"))
    store.commit()

    (src / "b.csv").write_text("x\n2\n")
    store.filter_new_files("ctx1", str(src / "*.csv"))
    _tear_writes(monkeypatch)
    with pytest.raises(OSError, match="disk full"):
        store.commit()
    monkeypatch.undo()

    reloaded = BookmarkStore(state)
    new = reloaded.filter_new_files("ctx1", str(src / "*.csv"))
    assert [os.path.basename(p) for p in new] == ["b.csv"]
    assert sorted(os.listdir(tmp_path)) == ["bookmarks.json", "src"]


def test_catalog_save_survives_a_torn_write(tmp_path, monkeypatch):
    """A table registration that dies partway through saving the catalog
    must leave the previous tables loadable: a torn catalog.json would
    make the next Catalog(...) raise, losing every registered table."""
    state = str(tmp_path / "catalog.json")
    Catalog(state).create_table("golden", "t1", "/data/t1", partition_keys=["p_year"])

    catalog = Catalog(state)
    _tear_writes(monkeypatch)
    with pytest.raises(OSError, match="disk full"):
        catalog.create_table("golden", "t2", "/data/t2")
    monkeypatch.undo()

    reloaded = Catalog(state)
    assert reloaded.get_tables("golden") == ["t1"]
    assert reloaded.get_table("golden", "t1").partition_keys == ["p_year"]
    assert sorted(os.listdir(tmp_path)) == ["catalog.json"]


def test_get_resolved_options_and_legacy_translation():
    out = getResolvedOptions(
        ["--JOB_NAME", "j1", "--my_arg=5", "--continuation-option",
         "continuation-enabled"],
        ["my_arg"],
    )
    assert out["JOB_NAME"] == "j1"
    assert out["my_arg"] == "5"
    assert out["job_bookmark_option"] == "job-bookmark-enable"


def test_job_init_commit(spark, scratch):
    ctx = EngineContext(spark)
    job = Job(ctx, state_dir=f"{scratch}/jobstate")
    job.init("test_job", {"JOB_NAME": "test_job"})
    assert job.isInitialized()
    job.commit()


def test_glue_script_call_shapes(ctx, scratch):
    """The attribute facades every Glue script uses:
    ctx.create_dynamic_frame.from_catalog / .from_options,
    ctx.write_dynamic_frame.from_options, name_space legacy alias."""
    import pytest as _pytest

    path = f"{scratch}/shape_src"
    ctx.spark.range(0, 7).toDF("v").write.mode("overwrite").parquet(path)
    ctx.catalog.crawl(ctx.spark, "dbs", "ts", path)

    dyf = ctx.create_dynamic_frame.from_catalog(database="dbs", table_name="ts")
    assert dyf.count() == 7
    # legacy name_space alias
    dyf2 = ctx.create_dynamic_frame.from_catalog(name_space="dbs", table_name="ts")
    assert dyf2.count() == 7
    with _pytest.raises(Exception, match="choose one"):
        ctx.create_dynamic_frame.from_catalog(database="dbs", name_space="dbs",
                                              table_name="ts")
    with _pytest.raises(Exception, match="table_name"):
        ctx.create_dynamic_frame.from_catalog(database="dbs")

    dyf3 = ctx.create_dynamic_frame.from_options(
        "file", {"path": path}, format="parquet")
    assert dyf3.count() == 7

    out = f"{scratch}/shape_out"
    ctx.write_dynamic_frame.from_options(dyf3, "file", {"path": out}, format="parquet")
    assert ctx.spark.read.parquet(out).count() == 7


def test_pyarrow_parquet_datasource_row_group_partitions(spark, tmp_path):
    """The custom Python DataSource (sources/pyds.py) parallelizes by
    parquet ROW GROUP and honors the columns option (explicit pruning):
    a 4-row-group file must scan as 4 input partitions and return only
    the projected columns."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from aws_etl_bank_spark.sources.pyds import PyArrowParquetDataSource

    path = str(tmp_path / "rg.parquet")
    tbl = pa.table({"a": list(range(1000)),
                    "b": [f"s{i}" for i in range(1000)],
                    "c": [float(i) for i in range(1000)]})
    pq.write_table(tbl, path, row_group_size=250)
    spark.dataSource.register(PyArrowParquetDataSource)
    df = (spark.read.format("pyarrow_parquet")
          .option("path", path).option("columns", "a,c").load())
    assert df.columns == ["a", "c"]
    assert df.rdd.getNumPartitions() == 4
    rows = df.collect()
    assert len(rows) == 1000
    assert sum(r["a"] for r in rows) == 499500
