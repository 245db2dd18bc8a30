"""Spark 4 modern-API surfaces: lateralJoin (and its decorrelated
plan), scalar()/exists() subquery builders, DataFrame.transpose, and
the mapInArrow zero-copy batch path (llm/arrowops.py)."""

import pyspark.sql.functions as F
import pytest


def test_lateral_join_decorrelates_to_window_group_limit(spark):
    """The correlated ORDER BY + LIMIT lateral subquery must compile
    to WindowGroupLimit + a hash join — never a per-row nested loop
    (BroadcastNestedLoopJoin/CartesianProduct)."""
    from aws_etl_bank_spark.sources.testdata import load_table

    sf = "/root/testdata/sf0.001"
    c = load_table(spark, sf, "customer").select("c_custkey", "c_name")
    o = load_table(spark, sf, "orders")
    sub = (o.where(F.col("o_custkey") == F.col("c_custkey").outer())
           .orderBy(F.desc("o_totalprice"), "o_orderkey").limit(2)
           .select("o_orderkey", "o_totalprice"))
    lj = c.lateralJoin(sub)
    plan = lj._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan
    assert "NestedLoop" not in plan and "Cartesian" not in plan

    # semantics: equals the window-rank rewrite
    from pyspark.sql import Window
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"),
                                                "o_orderkey")
    exp = (o.withColumn("rn", F.row_number().over(w)).filter("rn <= 2")
           .join(c, F.col("o_custkey") == F.col("c_custkey"))
           .select("c_custkey", "c_name", "o_orderkey", "o_totalprice"))
    assert sorted(map(tuple, lj.collect())) == sorted(map(tuple,
                                                          exp.collect()))
    spark.catalog.clearCache()


def test_scalar_exists_empty_group_semantics(spark):
    """A key with no matching rows gets NULL from scalar() and FALSE
    from exists() — the decorrelated left-join semantics."""
    left = spark.createDataFrame([(1,), (2,)], "k long")
    right = spark.createDataFrame([(1, 10.0), (1, 5.0)], "k long, v double")
    s = (right.where(F.col("k") == F.col("left_k").outer())
         .select(F.sum("v").alias("s")))
    e = right.where((F.col("k") == F.col("left_k").outer())
                    & (F.col("v") > 7))
    r = {row["left_k"]: (row["s"], row["has"])
         for row in left.select(F.col("k").alias("left_k"))
         .select("left_k", s.scalar().alias("s"), e.exists().alias("has"))
         .collect()}
    assert r[1] == (15.0, True)
    assert r[2] == (None, False)
    spark.catalog.clearCache()


def test_scalar_exists_decorrelated_plan(spark):
    """The registry entry's plan claim, pinned: scalar -> hash
    aggregate + LeftOuter join, exists -> ExistenceJoin with the
    constant predicate pushed to the scan; no per-row nested loop."""
    import aws_etl_bank_spark.plans.registry as reg

    df = reg.load_registry()["scalar_exists_subqueries"].fn(
        spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ExistenceJoin" in plan
    assert "HashAggregate" in plan and "LeftOuter" in plan
    assert "NestedLoop" not in plan and "Cartesian" not in plan
    assert "GreaterThan(o_totalprice,300000.0)" in plan  # pushed filter
    spark.catalog.clearCache()


def test_transpose_layout(spark):
    """transpose(): first column's VALUES become column names, each
    remaining original column becomes a row keyed by its name."""
    m = spark.createDataFrame(
        [("x", 1.0, 2.0), ("y", 3.0, 4.0)], "g string, m1 double, m2 double")
    t = m.transpose()
    rows = {r["key"]: (r["x"], r["y"]) for r in t.collect()}
    assert set(t.columns) == {"key", "x", "y"}
    assert rows == {"m1": (1.0, 3.0), "m2": (2.0, 4.0)}
    spark.catalog.clearCache()


def test_map_in_arrow_quantized_norms(spark):
    """quantized_norms agrees with the SQL fold on fixed vectors,
    handles ragged lists (variable length, empty list), and keeps NaN
    out of the story entirely (int64 output)."""
    from aws_etl_bank_spark.llm.arrowops import quantized_norms

    df = spark.createDataFrame(
        [(1, [0.5, -1.25]), (2, [2.0]), (3, [])],
        "vec_id long, embedding array<float>")
    got = {r["vec_id"]: r["q_norm2"]
           for r in quantized_norms(df, "embedding", "vec_id").collect()}
    # floor(0.5*1000+0.5)=500, floor(-1.25*1000+0.5)=-1250 -> 250000+1562500
    assert got == {1: 500 ** 2 + 1250 ** 2, 2: 2000 ** 2, 3: 0}

    # cross-check against the JVM-side fold on the real table
    from aws_etl_bank_spark.sources.testdata import load_table
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    got_arrow = quantized_norms(emb, "embedding", "vec_id")
    exp = emb.select(
        "vec_id",
        F.aggregate(
            F.transform("embedding",
                        lambda x: F.floor(x.cast("double") * 1000 + 0.5)
                        .cast("long")),
            F.lit(0).cast("long"),
            lambda acc, q: acc + q * q).alias("q_norm2"))
    assert sorted(map(tuple, got_arrow.collect())) == \
        sorted(map(tuple, exp.collect()))

    # NULL vector rows / NaN components must raise, not corrupt the
    # batch's offset arithmetic (r11 ADVICE): a null list length flows
    # NaN into the int64 cast and skews every later row's norm.
    bad_null = spark.createDataFrame(
        [(1, [1.0]), (2, None)], "vec_id long, embedding array<float>")
    with pytest.raises(Exception, match="NULL vector row"):
        quantized_norms(bad_null, "embedding", "vec_id").collect()
    bad_nan = spark.createDataFrame(
        [(1, [1.0, float("nan")])], "vec_id long, embedding array<float>")
    with pytest.raises(Exception, match="NaN vector component"):
        quantized_norms(bad_nan, "embedding", "vec_id").collect()
    spark.catalog.clearCache()


def test_try_family_edge_semantics(spark):
    """try_* fallbacks: NULL on zero-divide, int64 overflow, bad cast,
    out-of-bounds index — but index 0 is a HARD error even under
    try_element_at (INVALID_INDEX_OF_ZERO), which is why the suite
    entry drives indices 1..3."""
    import pytest

    r = spark.range(1, 4).selectExpr(
        "try_divide(CAST(10 AS DOUBLE), CAST(id - 2 AS DOUBLE)) AS d",
        "try_add(9223372036854775807, id - 1) AS a",
        "try_multiply(4611686018427387904, id) AS m",
        "try_cast(CASE WHEN id = 1 THEN 'x' ELSE CAST(id AS STRING) END"
        " AS INT) AS c",
        "try_element_at(array(1, 2), CAST(id AS INT)) AS e").collect()
    by_id = {i + 1: row for i, row in enumerate(r)}
    assert by_id[2]["d"] is None and by_id[1]["d"] == -10.0
    assert by_id[1]["a"] == 9223372036854775807 and by_id[2]["a"] is None
    assert by_id[2]["m"] is None and by_id[1]["m"] == 4611686018427387904
    assert by_id[1]["c"] is None and by_id[3]["c"] == 3
    assert by_id[3]["e"] is None and by_id[2]["e"] == 2
    with pytest.raises(Exception, match="INVALID_INDEX_OF_ZERO"):
        spark.sql("SELECT try_element_at(array(1), 0)").collect()
    spark.catalog.clearCache()


def test_python_datasource_writer_roundtrip(spark, tmp_path):
    """DataSourceArrowWriter (sources/pyds.py): tasks stream Arrow
    batches into per-task parquet files; the full loop is custom
    writer -> custom row-group reader, never touching the native
    parquet path."""
    import glob

    from aws_etl_bank_spark.sources.pyds import PyArrowParquetDataSource

    spark.dataSource.register(PyArrowParquetDataSource)
    df = spark.range(100).selectExpr("id", "id * 2 AS v",
                                     "CAST(id AS STRING) AS s")
    path = str(tmp_path / "out")
    (df.repartition(3).write.format("pyarrow_parquet")
       .mode("overwrite").option("path", path).save())
    files = sorted(glob.glob(path + "/part-*.parquet"))
    assert len(files) == 3 and not glob.glob(path + "/*.tmp")
    # overwrite clears prior files (same count after a second write)
    (df.repartition(2).write.format("pyarrow_parquet")
       .mode("overwrite").option("path", path).save())
    files = sorted(glob.glob(path + "/part-*.parquet"))
    assert len(files) == 2
    back = sorted(
        tuple(r) for f in files
        for r in (spark.read.format("pyarrow_parquet")
                  .option("path", f).load().collect()))
    assert back == sorted((i, i * 2, str(i)) for i in range(100))
    spark.catalog.clearCache()


def test_apply_in_arrow_and_arrow_udf(spark):
    """applyInArrow hands each group as ONE pyarrow.Table; arrow_udf
    batches arrive as pyarrow.Array.  Both verified against JVM-side
    folds on small frames (the sf oracles cover the full tables)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql.functions import arrow_udf

    df = spark.createDataFrame(
        [(1, 10), (1, 20), (2, 5)], "k long, x long")

    def kernel(t: pa.Table) -> pa.Table:
        total = pc.sum(t.column("x")).as_py() or 0
        delta = pc.subtract(
            pc.multiply(t.column("x"), pa.scalar(t.num_rows, pa.int64())),
            pa.scalar(total, pa.int64()))
        return pa.table({"k": t.column("k"), "d": delta})

    got = sorted(map(tuple, df.groupBy("k").applyInArrow(
        kernel, "k long, d long").collect()))
    # k=1: 10*2-30=-10, 20*2-30=10; k=2: 5*1-5=0
    assert got == [(1, -10), (1, 10), (2, 0)]

    def _tenth(a):
        return pc.add(a, pc.divide(a, pa.scalar(10, pa.int64())))
    _tenth.__annotations__ = {"a": pa.Array, "return": pa.Array}
    tenth = arrow_udf(_tenth, "long")
    got2 = sorted(r["y"] for r in df.select(tenth("x").alias("y")).collect())
    assert got2 == [5, 11, 22]
    spark.catalog.clearCache()


def test_arrow_entries_plan_shapes(spark):
    """Plan pins for the r12 Arrow entries: arrow_udf is map-only
    (zero exchanges, ArrowEvalPython node inside the scan's project);
    applyInArrow is exactly one hash-partition exchange +
    FlatMapGroupsInArrow — the same shuffle an aggregate would do,
    never a sort-based or nested-loop shape."""
    import aws_etl_bank_spark.plans.registry as reg

    sf = "/root/testdata/sf0.001"
    plan = (reg.load_registry()["arrow_udf_scalar"].fn(spark, sf)
            ._jdf.queryExecution().executedPlan().toString())
    assert plan.count("Exchange") == 0 and "ArrowEval" in plan

    plan2 = (reg.load_registry()["arrow_grouped_apply"].fn(spark, sf)
             ._jdf.queryExecution().executedPlan().toString())
    assert plan2.count("Exchange") == 1
    assert "FlatMapGroupsInArrow" in plan2
    spark.catalog.clearCache()


def test_python_streaming_datasource_exactly_once(spark, tmp_path):
    """Custom Python STREAMING source (sources/pyds_stream.py): the
    rate-limited latestOffset must spread delivery over multiple
    micro-batches, every record arrives exactly once, and executors
    read only their shard slice."""
    import time

    from aws_etl_bank_spark.sources.pyds_stream import (
        ShardedStreamDataSource, prepare_shards)

    spark.dataSource.register(ShardedStreamDataSource)
    df = spark.range(300).selectExpr("id AS event_id", "id % 7 AS k")
    path = str(tmp_path / "shards")
    total = prepare_shards(df, path, shards=3, order_col="event_id")
    assert total == 300

    stream = (spark.readStream.format("sharded_stream")
              .option("path", path)
              .option("schema_ddl", "event_id bigint, k bigint")
              .option("maxRecordsPerBatch", 40)
              .load())
    q = (stream.writeStream.format("memory").queryName("shard_t")
         .outputMode("append").trigger(processingTime="1 seconds")
         .start())
    deadline = time.time() + 180
    while time.time() < deadline:
        if spark.table("shard_t").count() >= total:
            break
        time.sleep(0.5)
    q.stop()
    row = spark.sql("SELECT COUNT(*) c, COUNT(DISTINCT event_id) d "
                    "FROM shard_t").collect()[0]
    assert (row["c"], row["d"]) == (300, 300)      # exactly once
    # 100 rows/shard at 40/batch -> >= 3 data-carrying batches
    assert len([p for p in q.recentProgress
                if p["numInputRows"] > 0]) >= 3


def test_python_streaming_sink_manifest_commit(spark, tmp_path):
    """Manifest sink (sources/pyds_stream.py ManifestStreamWriter):
    one manifest per micro-batch, no staged leftovers after success,
    read-back trusts only manifest-listed files, exactly-once."""
    import glob

    from aws_etl_bank_spark.sources.pyds_stream import (
        ShardedStreamDataSource, read_manifest_sink)

    spark.dataSource.register(ShardedStreamDataSource)
    df = spark.range(200).selectExpr("id AS event_id", "id % 5 AS k")
    feed = str(tmp_path / "feed")
    df.repartition(3).write.parquet(feed)
    stream = (spark.readStream.schema(df.schema)
              .option("maxFilesPerTrigger", 1).parquet(feed))
    sink = str(tmp_path / "sink")
    q = (stream.writeStream.format("sharded_stream")
         .option("path", sink)
         .option("checkpointLocation", str(tmp_path / "ck"))
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    # an orphaned staged file must stay invisible to the reader
    import os
    os.makedirs(os.path.join(sink, "_staging"), exist_ok=True)
    with open(os.path.join(sink, "_staging", "task-orphan.jsonl"),
              "w") as f:
        f.write('{"event_id": 999999, "k": 0}\n')
    back = read_manifest_sink(spark, sink, "event_id bigint, k bigint")
    row = back.selectExpr("count(*) c",
                          "count(distinct event_id) d").collect()[0]
    assert (row["c"], row["d"]) == (200, 200)
    assert len(glob.glob(sink + "/manifest-*.json")) == 3  # 1/batch
    spark.catalog.clearCache()


def test_pyds_writer_retry_leaves_no_duplicate(tmp_path):
    """ADVICE r12: PyArrowParquetWriter publishes in commit() from the
    winning attempts' messages only — a task attempt that completed but
    whose commit message was lost (stage retry, speculation) must leave
    NO reader-visible file."""
    import glob
    import os

    import pyarrow as pa

    from aws_etl_bank_spark.sources.pyds import PyArrowParquetWriter

    path = str(tmp_path / "out")
    w = PyArrowParquetWriter({"path": path}, overwrite=True)
    batch = pa.record_batch({"x": pa.array([1, 2, 3], pa.int64())})
    m_lost = w.write(iter([batch]))      # attempt whose message is lost
    m_kept = w.write(iter([batch]))      # re-executed winning attempt
    # before commit: everything staged, nothing reader-visible
    assert glob.glob(os.path.join(path, "part-*.parquet")) == []
    w.commit([m_kept])                   # Spark keeps ONE message/partition
    visible = glob.glob(os.path.join(path, "part-*.parquet"))
    assert len(visible) == 1             # the lost attempt never published
    assert glob.glob(os.path.join(path, ".staged-*")) == []  # swept
    # abort path: staged files removed, published files untouched
    m3 = w.write(iter([batch]))
    w.abort([m3])
    assert glob.glob(os.path.join(path, ".staged-*")) == []
    assert glob.glob(os.path.join(path, "part-*.parquet")) == visible


def test_pyds_stream_reader_seeds_floor_from_checkpoint(spark, tmp_path):
    """ADVICE r12: a fresh ShardedStreamReader (checkpoint restart)
    must fold the offsets Spark passes into its rate-limit planning
    floor instead of ramping from zero through no-op batches."""
    from aws_etl_bank_spark.sources.pyds_stream import (
        ShardedStreamReader, prepare_shards)

    df = spark.range(300).selectExpr("id AS event_id", "id % 7 AS k")
    path = str(tmp_path / "shards")
    prepare_shards(df, path, shards=3, order_col="event_id")

    fresh = ShardedStreamReader({"path": path, "maxRecordsPerBatch": 40})
    committed = {s: 80 for s in fresh._shards}   # checkpointed position
    # restart re-runs the uncommitted batch: partitions(start, end)
    fresh.partitions(committed, committed)
    nxt = fresh.latestOffset()
    assert all(nxt[s] == 100 for s in fresh._shards), nxt  # 80+40 capped


def test_prepare_shards_routes_negative_keys(spark, tmp_path):
    """ADVICE r12: pmod routing — negative order keys land in a shard
    instead of vanishing (Spark's % follows the dividend's sign)."""
    from aws_etl_bank_spark.sources.pyds_stream import prepare_shards

    df = spark.range(60).selectExpr("id - 30 AS event_id")
    total = prepare_shards(df, str(tmp_path / "neg"), shards=4,
                           order_col="event_id")
    assert total == 60


def test_pipe_syntax_lowers_to_pushed_scan(spark):
    """SQL pipe syntax is parser surface only: the |> chain must lower
    to the same pushed-filter scan + partial/final hash aggregate as
    the nested form — one exchange, pruned read."""
    import aws_etl_bank_spark.plans.registry as reg

    sf = "/root/testdata/sf0.001"
    df = reg.load_registry()["sql_pipe_syntax_pricing"].fn(spark, sf)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1
    assert "LessThanOrEqual(l_shipdate" in plan      # pushed to parquet
    assert df.count() > 0
    spark.catalog.clearCache()


def test_statestore_reader_roundtrips_agg_state(spark, tmp_path):
    """The statestore batch format reads back exactly the committed
    streaming-aggregation state (key/value structs per shuffle
    partition)."""
    from aws_etl_bank_spark.streaming import run_to_memory

    feed = str(tmp_path / "feed")
    spark.range(100).selectExpr("id % 9 AS k").write.parquet(feed)
    stream = (spark.readStream.schema("k bigint").parquet(feed)
              .groupBy("k").count())
    ck = str(tmp_path / "ck")
    run_to_memory(stream, "update", ck)
    state = (spark.read.format("statestore").load(ck)
             .selectExpr("key.k AS k", "value.count AS n"))
    got = {r["k"]: r["n"] for r in state.collect()}
    assert got == {k: (100 + 8 - k) // 9 for k in range(9)}
    # the state-metadata companion format inventories the checkpoint's
    # stateful operators — the discovery half of the ops surface
    # (which operator/store/partition-count to pass to statestore)
    md = spark.read.format("state-metadata").load(ck).collect()
    assert len(md) == 1
    assert md[0]["operatorName"] == "stateStoreSave"
    assert md[0]["stateStoreName"] == "default"
    assert md[0]["numPartitions"] == int(
        spark.conf.get("spark.sql.shuffle.partitions"))


def test_pyds_push_filters_prunes_row_groups(tmp_path):
    """Spark 4.1 DataSourceReader.pushFilters, connector-side: claimed
    comparisons prune row groups via footer min/max statistics before
    any task launches."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.datasource import GreaterThan, StringContains

    from aws_etl_bank_spark.sources.pyds import PyArrowParquetReader

    path = str(tmp_path / "t.parquet")
    tbl = pa.table({"k": list(range(3000)),
                    "s": [f"x{i % 5}" for i in range(3000)]})
    pq.write_table(tbl, path, row_group_size=1000)   # 3 groups, k sorted

    r = PyArrowParquetReader({"path": path})
    residual = list(r.pushFilters([GreaterThan(("k",), 2500),
                                   StringContains(("s",), "x")]))
    # unsupported filter handed back to Spark; supported one claimed
    assert [type(f).__name__ for f in residual] == ["StringContains"]
    assert [type(f).__name__ for f in r.pushed] == ["GreaterThan"]
    assert [p.value for p in r.partitions()] == [2]  # groups 0-1 pruned


def test_pyds_push_filters_end_to_end(spark, tmp_path):
    """Fully-pushed predicates leave NO post-scan Filter in the plan,
    and the connector's Arrow mask must therefore be exact (null
    comparisons drop rows, SQL semantics)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from aws_etl_bank_spark.sources.pyds import PyArrowParquetDataSource

    path = str(tmp_path / "t.parquet")
    tbl = pa.table({"k": [1, 2, 3, None, 5, 6],
                    "s": ["a", "b", "a", "a", None, "a"]})
    pq.write_table(tbl, path)
    spark.dataSource.register(PyArrowParquetDataSource)
    df = (spark.read.format("pyarrow_parquet").option("path", path)
          .load().filter("k > 1 AND s = 'a'"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    # no Filter NODE above the scan ("RuntimeFilters:" in the scan
    # line is not one — no trailing space); both predicates delegated
    assert "Filter " not in plan, plan
    assert [tuple(r) for r in df.orderBy("k").collect()] == \
        [(3, "a"), (6, "a")]               # nulls in k and s dropped
    # residual-filter path: LIKE stays Spark-side, results still exact
    df2 = (spark.read.format("pyarrow_parquet").option("path", path)
           .load().filter("k > 1 AND s LIKE '%a%'"))
    plan2 = df2._jdf.queryExecution().executedPlan().toString()
    assert "Filter " in plan2              # unsupported piece kept
    assert [tuple(r) for r in df2.orderBy("k").collect()] == \
        [(3, "a"), (6, "a")]


def test_pyds_push_filters_in_predicate(spark, tmp_path):
    """IN-list pushdown: stats-pruned when every list value falls
    outside a row group's min/max, exact Arrow is_in mask otherwise."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.datasource import In

    from aws_etl_bank_spark.sources.pyds import (PyArrowParquetDataSource,
                                                 PyArrowParquetReader)

    path = str(tmp_path / "t.parquet")
    tbl = pa.table({"k": list(range(3000))})
    pq.write_table(tbl, path, row_group_size=1000)

    r = PyArrowParquetReader({"path": path})
    assert list(r.pushFilters([In(("k",), (10, 1500))])) == []
    assert [p.value for p in r.partitions()] == [0, 1]  # group 2 pruned

    spark.dataSource.register(PyArrowParquetDataSource)
    df = (spark.read.format("pyarrow_parquet").option("path", path)
          .load().filter("k IN (10, 1500, 99999)"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Filter " not in plan, plan     # IN fully delegated
    assert sorted(r["k"] for r in df.collect()) == [10, 1500]


def test_arrow_streaming_sink_manifest_commit(spark, tmp_path):
    """DataSourceStreamArrowWriter variant of the manifest sink: tasks
    write RecordBatches to staged parquet; per-batch manifests publish
    atomically; no staged leftovers; read-back is exactly-once."""
    import glob

    from aws_etl_bank_spark.sources.pyds_stream import (
        ShardedStreamDataSource, read_manifest_sink)

    spark.dataSource.register(ShardedStreamDataSource)
    df = spark.range(200).selectExpr("id AS event_id", "id % 5 AS k")
    feed = str(tmp_path / "feed")
    df.repartition(3).write.parquet(feed)
    stream = (spark.readStream.schema(df.schema)
              .option("maxFilesPerTrigger", 1).parquet(feed))
    sink = str(tmp_path / "sink")
    q = (stream.writeStream.format("sharded_stream")
         .option("path", sink).option("arrowSink", "true")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    manifests = glob.glob(sink + "/manifest-*.json")
    assert len(manifests) == 3                 # one per micro-batch
    assert glob.glob(sink + "/_staging/*") == []
    assert all(f.endswith(".parquet")
               for f in glob.glob(sink + "/data/*"))
    back = read_manifest_sink(spark, sink, "event_id bigint, k bigint")
    assert back.count() == 200
    assert back.select("event_id").distinct().count() == 200


def test_pyds_push_filters_property_random_predicates(tmp_path):
    """Property check (no Spark session needed): for random data and
    random claimed predicates, the reader's surviving row groups plus
    Arrow mask must reproduce exactly the rows a naive Python
    evaluation keeps — row-group pruning may never drop a qualifying
    row, and the mask may never keep a non-qualifying one."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from hypothesis import given, settings
    from hypothesis import strategies as st
    from pyspark.sql.datasource import (EqualTo, GreaterThan, In,
                                        IsNotNull, LessThanOrEqual)

    from aws_etl_bank_spark.sources.pyds import PyArrowParquetReader

    idx = [0]

    @settings(max_examples=25, deadline=None)
    @given(
        data=st.lists(st.one_of(st.none(),
                                st.integers(min_value=-50, max_value=50)),
                      min_size=1, max_size=120),
        kind=st.sampled_from(["eq", "gt", "le", "nn", "in"]),
        v=st.integers(min_value=-55, max_value=55),
        vs=st.lists(st.integers(min_value=-55, max_value=55),
                    min_size=1, max_size=4),
    )
    def check(data, kind, v, vs):
        idx[0] += 1
        path = str(tmp_path / f"p{idx[0]}.parquet")
        pq.write_table(pa.table({"k": pa.array(data, pa.int64())}),
                       path, row_group_size=16)
        flt = {"eq": EqualTo(("k",), v), "gt": GreaterThan(("k",), v),
               "le": LessThanOrEqual(("k",), v),
               "nn": IsNotNull(("k",)),
               "in": In(("k",), tuple(vs))}[kind]
        pred = {"eq": lambda x: x is not None and x == v,
                "gt": lambda x: x is not None and x > v,
                "le": lambda x: x is not None and x <= v,
                "nn": lambda x: x is not None,
                "in": lambda x: x is not None and x in vs}[kind]
        r = PyArrowParquetReader({"path": path})
        assert list(r.pushFilters([flt])) == []   # fully claimed
        got = []
        for p in r.partitions():
            for b in r.read(p):
                got.extend(b.column(0).to_pylist())
        assert sorted(got) == sorted(x for x in data if pred(x))

    check()


def test_pyds_push_filters_yield_back_float_columns(tmp_path):
    """ADVICE r13 (medium): Spark's double semantics (NaN = NaN is
    TRUE; NaN sorts GREATER than every double) differ from the IEEE
    semantics of pyarrow.compute, and Spark never re-evaluates claimed
    filters — so comparisons on floating-point columns (or with NaN
    literals) must be yielded back, never claimed.  IsNotNull stays
    claimable (NaN is non-null under both)."""
    import math

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.datasource import (EqualTo, GreaterThan, In,
                                        IsNotNull)

    from aws_etl_bank_spark.sources.pyds import PyArrowParquetReader

    path = str(tmp_path / "f.parquet")
    pq.write_table(pa.table({
        "d": pa.array([1.0, float("nan"), 7.5], pa.float64()),
        "k": pa.array([1, 2, 3], pa.int64())}), path)
    r = PyArrowParquetReader({"path": path})
    residual = list(r.pushFilters([
        GreaterThan(("d",), 5.0),        # float COLUMN: yield back
        EqualTo(("d",), 1.0),            # float COLUMN: yield back
        IsNotNull(("d",)),               # safe: claim
        GreaterThan(("k",), float("nan")),   # NaN literal: yield back
        In(("k",), (1.0, float("nan"))),     # NaN in list: yield back
        EqualTo(("k",), 2),              # int col, int value: claim
    ]))
    assert sorted(type(f).__name__ for f in residual) == \
        ["EqualTo", "GreaterThan", "GreaterThan", "In"]
    assert sorted(type(f).__name__ for f in r.pushed) == \
        ["EqualTo", "IsNotNull"]
    assert all(not isinstance(getattr(f, "value", None), float)
               or not math.isnan(f.value) for f in r.pushed)


def test_pyds_float_column_nan_rows_survive_spark_filter(spark, tmp_path):
    """End-to-end fidelity for the float yield-back: `d > 5.0` under
    Spark semantics RETURNS the NaN row (NaN > everything); with the
    comparison correctly left to Spark the connector must produce it."""
    import math

    import pyarrow as pa
    import pyarrow.parquet as pq

    from aws_etl_bank_spark.sources.pyds import PyArrowParquetDataSource

    path = str(tmp_path / "f.parquet")
    pq.write_table(pa.table({
        "d": pa.array([1.0, float("nan"), 7.5, None], pa.float64()),
        "k": pa.array([1, 2, 3, 4], pa.int64())}), path)
    spark.dataSource.register(PyArrowParquetDataSource)
    got = (spark.read.format("pyarrow_parquet").option("path", path)
           .load().filter("d > 5.0").orderBy("k").collect())
    assert [r.k for r in got] == [2, 3]
    assert math.isnan(got[0].d) and got[1].d == 7.5
    # and NaN = NaN is TRUE under Spark SQL
    got2 = (spark.read.format("pyarrow_parquet").option("path", path)
            .load().filter("d = double('nan')").collect())
    assert [r.k for r in got2] == [2]


def test_pyds_commit_raises_on_missing_staged_file(tmp_path):
    """ADVICE r13 (low): a WINNING attempt whose staged file vanished
    must fail the job commit — silently skipping it would publish a
    job missing that partition's data."""
    import os

    import pyarrow as pa
    import pytest

    from aws_etl_bank_spark.sources.pyds import PyArrowParquetWriter

    path = str(tmp_path / "out")
    w = PyArrowParquetWriter({"path": path}, overwrite=True)
    batch = pa.record_batch({"x": pa.array([1, 2], pa.int64())})
    msg = w.write(iter([batch]))
    os.remove(msg.staged)                # simulate a swept/lost stage file
    with pytest.raises(RuntimeError, match="staged file missing"):
        w.commit([msg])
    # empty-partition messages (no staged attr) still commit cleanly
    empty = w.write(iter([]))
    w.commit([empty])


def test_pyds_push_filters_property_float_columns_never_claimed(tmp_path):
    """Property check for the ADVICE r13 NaN fix: for random float data
    (NaN/inf included) and random comparison predicates on a float
    column, pushFilters must yield EVERY comparison back (only
    IsNotNull is claimable), and the reader's output must therefore be
    the raw data — so Spark's own NaN-ordering evaluation is the only
    filter semantics ever applied."""
    import math

    import pyarrow as pa
    import pyarrow.parquet as pq
    from hypothesis import given, settings
    from hypothesis import strategies as st
    from pyspark.sql.datasource import (EqualTo, GreaterThan, In,
                                        IsNotNull, LessThanOrEqual)

    from aws_etl_bank_spark.sources.pyds import PyArrowParquetReader

    idx = [0]
    specials = [float("nan"), float("inf"), float("-inf"), -0.0]

    @settings(max_examples=25, deadline=None)
    @given(
        data=st.lists(
            st.one_of(st.none(), st.sampled_from(specials),
                      st.floats(min_value=-50, max_value=50,
                                allow_nan=False)),
            min_size=1, max_size=60),
        kind=st.sampled_from(["eq", "gt", "le", "nn", "in"]),
        v=st.one_of(st.sampled_from(specials),
                    st.floats(min_value=-55, max_value=55,
                              allow_nan=False)),
    )
    def check(data, kind, v):
        idx[0] += 1
        path = str(tmp_path / f"f{idx[0]}.parquet")
        pq.write_table(pa.table({"d": pa.array(data, pa.float64())}),
                       path, row_group_size=16)
        flt = {"eq": EqualTo(("d",), v), "gt": GreaterThan(("d",), v),
               "le": LessThanOrEqual(("d",), v),
               "nn": IsNotNull(("d",)),
               "in": In(("d",), (v,))}[kind]
        r = PyArrowParquetReader({"path": path})
        residual = list(r.pushFilters([flt]))
        if kind == "nn":
            # IsNotNull is NaN-safe under both semantics: claimable
            assert residual == [] and len(r.pushed) == 1
            expect = [x for x in data if x is not None]
        else:
            # every comparison on a float column must come back
            assert len(residual) == 1 and r.pushed == []
            expect = data
        got = []
        for p in r.partitions():
            for b in r.read(p):
                got.extend(b.column(0).to_pylist())
        def canon(x):
            if x is None:
                return "null"
            if math.isnan(x):
                return "nan"
            return repr(x + 0.0)        # -0.0 -> 0.0 canonicalized
        assert sorted(map(canon, got)) == sorted(map(canon, expect))

    check()


def test_pyds_commit_missing_stage_publishes_nothing(tmp_path):
    """r14 review: a failed job commit must be ALL-or-nothing — when
    message 2's staged file is missing, message 1 must NOT have been
    renamed into reader-visible part-*.parquet before the raise."""
    import glob
    import os

    import pyarrow as pa
    import pytest

    from aws_etl_bank_spark.sources.pyds import PyArrowParquetWriter

    path = str(tmp_path / "out")
    w = PyArrowParquetWriter({"path": path}, overwrite=True)
    batch = pa.record_batch({"x": pa.array([1, 2], pa.int64())})
    m1 = w.write(iter([batch]))
    m2 = w.write(iter([batch]))
    os.remove(m2.staged)
    with pytest.raises(RuntimeError, match="staged file missing"):
        w.commit([m1, m2])
    assert glob.glob(os.path.join(path, "part-*.parquet")) == []


def test_pyds_overwrite_preserves_old_data_on_failed_commit(tmp_path):
    """r14 review: overwrite's delete-old-data step must happen at
    COMMIT time (after staged-file validation), not at planning time —
    a failed overwrite commit must leave the previous job's data
    intact, and a successful one must swap it atomically."""
    import glob
    import os

    import pyarrow as pa
    import pytest

    from aws_etl_bank_spark.sources.pyds import (PyArrowParquetDataSource,
                                                 PyArrowParquetWriter)

    path = str(tmp_path / "out")
    batch = pa.record_batch({"x": pa.array([1, 2], pa.int64())})
    w1 = PyArrowParquetWriter({"path": path}, overwrite=True)
    w1.commit([w1.write(iter([batch]))])
    old = glob.glob(os.path.join(path, "part-*.parquet"))
    assert len(old) == 1

    # second overwrite job: planning (writer()) must not delete, and a
    # commit that fails validation must leave the old file in place
    src = PyArrowParquetDataSource({"path": path})
    w2 = src.writer(None, overwrite=True)
    assert glob.glob(os.path.join(path, "part-*.parquet")) == old
    m = w2.write(iter([batch]))
    os.remove(m.staged)
    with pytest.raises(RuntimeError, match="staged file missing"):
        w2.commit([m])
    assert glob.glob(os.path.join(path, "part-*.parquet")) == old

    # a successful overwrite commit swaps: old file gone, new published
    w3 = PyArrowParquetWriter({"path": path}, overwrite=True)
    w3.commit([w3.write(iter([batch]))])
    now = glob.glob(os.path.join(path, "part-*.parquet"))
    assert len(now) == 1 and now != old


def test_pyds_overwrite_keeps_old_data_on_midloop_rename_failure(
        tmp_path, monkeypatch):
    """ADVICE r14 low: old part files must be deleted LAST — if an
    os.replace fails mid-loop (disk error), the previous job's data
    must still be on disk (brief old+new duplication is the accepted
    trade; silent loss is not)."""
    import glob
    import os

    import pyarrow as pa
    import pytest

    from aws_etl_bank_spark.sources.pyds import PyArrowParquetWriter

    path = str(tmp_path / "out")
    batch = pa.record_batch({"x": pa.array([1, 2], pa.int64())})
    w1 = PyArrowParquetWriter({"path": path}, overwrite=True)
    w1.commit([w1.write(iter([batch]))])
    old = glob.glob(os.path.join(path, "part-*.parquet"))
    assert len(old) == 1

    w2 = PyArrowParquetWriter({"path": path}, overwrite=True)
    msgs = [w2.write(iter([batch])), w2.write(iter([batch]))]
    real_replace = os.replace
    calls = {"n": 0}

    def failing_replace(src, dst):
        calls["n"] += 1
        if calls["n"] == 2:
            raise OSError("disk error mid-publish")
        return real_replace(src, dst)

    # commit() does a function-local `import os`, so patch the global
    # os module attribute
    monkeypatch.setattr(os, "replace", failing_replace)
    with pytest.raises(OSError, match="disk error"):
        w2.commit(msgs)
    survivors = glob.glob(os.path.join(path, "part-*.parquet"))
    # the old part survived (delete-last), plus the one new file that
    # made it through before the failure
    assert old[0] in survivors
    assert len(survivors) == 2


def test_session_pins_auto_bucketed_scan_off():
    """ADVICE r14 low: autoBucketedScan=false moved from a mid-entry
    conf mutation into RUNTIME_CONFS — other entries' physical plans
    must not depend on whether scale_bucket_pruned_read ran first."""
    from aws_etl_bank_spark.session import RUNTIME_CONFS

    assert RUNTIME_CONFS[
        "spark.sql.sources.bucketing.autoBucketedScan.enabled"] == "false"


def test_session_pins_checkpoint_file_checksum_off():
    """r18: Spark 4.1's checkpoint file checksums leak a
    ChecksumCheckpointFileManager thread pool per state partition per
    streaming run (~128 threads/availableNow query, measured) — the
    session pins them off so repeated streaming entries in one JVM
    stay flat instead of accumulating threads."""
    from aws_etl_bank_spark.session import RUNTIME_CONFS

    assert RUNTIME_CONFS[
        "spark.sql.streaming.checkpoint.fileChecksum.enabled"] == "false"


class _RefusingConf:
    """``spark.conf`` of a session that refuses to set ``refused``."""

    def __init__(self, refused):
        self.refused, self.values = refused, {}

    def set(self, key, value):
        if key == self.refused:
            raise RuntimeError(f"Cannot modify the value of {key}")
        self.values[key] = value


class _StubSession:
    def __init__(self, refused):
        self.conf = _RefusingConf(refused)


@pytest.mark.parametrize("key", [
    "spark.sql.ansi.enabled",  # the flagship SQL's implicit string→double casts
    "spark.sql.session.timeZone",
    "spark.sql.python.filterPushdown.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
])
def test_required_conf_failure_raises(key):
    """A session that refuses a conf the engine's results depend on must
    not run the engine."""
    from aws_etl_bank_spark.session import apply_runtime_confs

    with pytest.raises(RuntimeError, match=f"required Spark conf {key}"):
        apply_runtime_confs(_StubSession(key))


def test_optional_conf_failure_is_logged_and_skipped(caplog):
    from aws_etl_bank_spark.session import RUNTIME_CONFS, apply_runtime_confs

    refused = "spark.sql.adaptive.skewJoin.enabled"
    stub = _StubSession(refused)
    with caplog.at_level("WARNING", logger="aws_etl_bank_spark.session"):
        apply_runtime_confs(stub)
    assert refused in caplog.text
    assert stub.conf.values == {k: v for k, v in RUNTIME_CONFS.items() if k != refused}
