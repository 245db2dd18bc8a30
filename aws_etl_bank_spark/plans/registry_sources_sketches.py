"""JDBC/Derby, RDD source, count actions, CMS/HLL/KMV sketches, schema smoke, decimal-exact TPC-H family — registry entries (formerly registry.py lines 1424-4381).

Pure mechanical move out of the single-module ``plans/registry.py``
(VERDICT r14 task 8): entry source, ``@q`` names and oracles are
byte-identical to the pre-split layout.  REGISTRY order comes from
``registry.PARTS`` (see ``registry.load_registry``).
"""

from __future__ import annotations

import os  # noqa: F401

import pyspark.sql.functions as F  # noqa: F401
import pyspark.sql.types as T  # noqa: F401
from pyspark.sql import DataFrame, SparkSession, Window  # noqa: F401

from aws_etl_bank_spark.sources.testdata import load_table  # noqa: F401
from aws_etl_bank_spark.plans.registry import (  # noqa: F401
    SCRATCH, canon0, q, _scratch, _scratch_run)


# ===========================================================================
# JDBC over embedded Derby (the driver ships in Spark's own jars dir), RDD
# source, and count-action promotions (SURVEY.md §2.1 rows 8/9/13/14/46,
# §2.4 row 38)
# ===========================================================================

_DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


@q("jdbc_conf_roundtrip", """
SELECT n_nationkey, n_name, n_regionkey FROM nation""")
def jdbc_conf_roundtrip(spark, sf_dir):
    """from_jdbc_conf write + partitioned fetchsize read (§2 rows 9, 46)
    against embedded Derby: the connection config is resolved from the
    registered-connection store (reference context.py:407-436,451-459),
    and the read uses a full 4-way partition spec so no single cursor
    carries the table."""
    from aws_etl_bank_spark.context import EngineContext
    from aws_etl_bank_spark.operators.dynamicframe import DynamicFrame
    from aws_etl_bank_spark.sources.jdbc import jdbc_read

    url = f"jdbc:derby:{_scratch(sf_dir, 'derby_rt')};create=true"
    ctx = EngineContext(spark)
    ctx.register_jdbc_connection("derby", {"url": url, "driver": _DERBY_DRIVER})
    nation = load_table(spark, sf_dir, "nation")
    ctx.write_dynamic_frame_from_jdbc_conf(
        DynamicFrame.fromDF(nation, ctx, "n"), "derby",
        {"dbtable": "nation_rt", "mode": "overwrite", "numPartitions": "1"})
    return jdbc_read(spark, url, "nation_rt", driver=_DERBY_DRIVER,
                     fetchsize=1000, partition_column="n_nationkey",
                     lower_bound=0, upper_bound=30, num_partitions=4)


@q("jdbc_extract_csv_ingest", """
SELECT c_custkey, c_name, c_acctbal FROM customer""")
def jdbc_extract_csv_ingest(spark, sf_dir):
    """jdbc_bulk_write (batched COPY-equivalent, §2 row 14) then
    jdbc_extract_to_csv (table→CSV ingest, §2 row 13), read back through
    the engine's all-strings CSV scan and cast to typed columns."""
    from aws_etl_bank_spark.context import EngineContext
    from aws_etl_bank_spark.sources.jdbc import jdbc_bulk_write, jdbc_extract_to_csv

    url = f"jdbc:derby:{_scratch(sf_dir, 'derby_ext')};create=true"
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal")
    jdbc_bulk_write(cust, url, "cust_src", mode="overwrite",
                    driver=_DERBY_DRIVER, batchsize=500, num_partitions=1)
    hi = cust.agg(F.max("c_custkey")).first()[0]
    out = _scratch(sf_dir, "derby_ext_csv")
    jdbc_extract_to_csv(spark, url, "cust_src", out, driver=_DERBY_DRIVER,
                        partition_column="c_custkey", lower_bound=1,
                        upper_bound=int(hi) + 1, num_partitions=4)
    ctx = EngineContext(spark)
    raw = ctx.getSource("file", format="csv", paths=[out]).getFrame(
        glue_ctx=ctx, name="cust_csv").toDF()
    return raw.select(
        F.col("c_custkey").cast("long").alias("c_custkey"),
        "c_name",
        F.col("c_acctbal").cast("double").alias("c_acctbal"),
    )


@q("rdd_source_frame", """
SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name FROM nation""")
def rdd_source_frame(spark, sf_dir):
    """create_dynamic_frame.from_rdd (§2 row 8): rows arrive as a plain
    Python RDD and become a DynamicFrame (reference context.py:152-156).
    nation is 25 rows at every SF, so the driver-side list is bounded."""
    from aws_etl_bank_spark.context import EngineContext

    rows = [(int(r.n_nationkey), r.n_name)
            for r in load_table(spark, sf_dir, "nation").collect()]
    rdd = spark.sparkContext.parallelize(rows, 4)
    ctx = EngineContext(spark)
    dyf = ctx.create_dynamic_frame.from_rdd(
        rdd, "nations", schema="n_nationkey long, n_name string")
    return dyf.toDF()


@q("count_actions", """
SELECT (SELECT COUNT(*) FROM customer WHERE c_custkey % 7 <> 0) AS ok_count,
       (SELECT COUNT(*) FROM customer WHERE c_custkey % 7 = 0)  AS errors_count,
       (SELECT COUNT(*) FROM customer WHERE c_custkey % 7 = 0)  AS stage_errors_count""")
def count_actions(spark, sf_dir):
    """count / errorsCount / stageErrorsCount actions (§2 row 38) after a
    map with planted per-record failures: failed records leave the frame
    and land in the error channel."""
    from aws_etl_bank_spark.operators.dynamicframe import DynamicFrame

    cust = load_table(spark, sf_dir, "customer").select("c_custkey")

    def fn(rec):
        if rec["c_custkey"] % 7 == 0:
            raise ValueError("planted failure")
        return rec

    out = DynamicFrame.fromDF(cust, None, "c").map(
        fn, schema=T.StructType([T.StructField("c_custkey", T.LongType())]))
    return spark.createDataFrame(
        [(out.count(), out.errorsCount(), out.stageErrorsCount())],
        "ok_count long, errors_count long, stage_errors_count long")


@q("sink_collection_write", """
SELECT c_custkey, c_acctbal,
       CASE WHEN c_acctbal >= 0 THEN 'pos' ELSE 'neg' END AS bucket
FROM customer""")
def sink_collection_write(spark, sf_dir):
    """DataSink.write on a DynamicFrameCollection (§2 row 10): split_rows
    routes customers into two frames, the sink writes each frame under its
    name as a leaf dir (useFrameName, reference data_sink.py:38-49), and
    the query reads both leaves back and tags them by leaf."""
    from aws_etl_bank_spark.context import EngineContext
    from aws_etl_bank_spark.operators.dynamicframe import DynamicFrame

    base = _scratch(sf_dir, "coll_sink")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    coll = DynamicFrame.fromDF(cust, None, "c").split_rows(
        {"c_acctbal": {">=": 0}}, "pos", "neg")
    ctx = EngineContext(spark)
    sink = ctx.getSink("file", format="parquet", path=base, mode="overwrite")
    sink.write(coll)
    pos = spark.read.parquet(os.path.join(base, "pos")).withColumn("bucket", F.lit("pos"))
    neg = spark.read.parquet(os.path.join(base, "neg")).withColumn("bucket", F.lit("neg"))
    return pos.unionByName(neg)


@q("catalog_purge_partitions", """
SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(SUM(o_totalprice), 2) AS total
FROM orders WHERE o_orderstatus <> 'F'
GROUP BY o_orderstatus""")
def catalog_purge_partitions(spark, sf_dir):
    """purge_table with partitionPredicate (§2 row 15): orders written
    partitioned by status and registered in the catalog; the purge drops
    the 'F' partition directories via metadata-scale partition-value
    evaluation (reference context.py:461-516), and the query aggregates
    what survives."""
    import shutil

    from aws_etl_bank_spark.context import EngineContext
    from aws_etl_bank_spark.sources.catalog import Catalog

    path = _scratch(sf_dir, "orders_purge")
    shutil.rmtree(path, ignore_errors=True)
    load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    ).write.mode("overwrite").partitionBy("o_orderstatus").parquet(path)
    ctx = EngineContext(spark, Catalog())
    ctx.catalog.create_table("golden", "orders_purge", path, "parquet",
                             partition_keys=["o_orderstatus"])
    removed = ctx.purge_table("golden", "orders_purge",
                              {"partitionPredicate": "o_orderstatus = 'F'"})
    if not removed:  # load-bearing guard (ADVICE r15)
        raise ValueError("purge_table removed nothing; the survivors"
                         " aggregate below would equal the full table")
    survived = ctx.create_dynamic_frame_from_catalog("golden", "orders_purge").toDF()
    return survived.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


@q("governed_txn_write", """
SELECT n_regionkey, CAST(COUNT(*) AS BIGINT) AS n FROM nation GROUP BY n_regionkey""")
def governed_txn_write(spark, sf_dir):
    """Governed-table transaction surface (§2 row 16): begin → write via
    the catalog sink → commit → read back (reference context.py:676-683;
    locally the tokens are no-ops that a Delta/Iceberg deployment would
    bind to real table transactions).  A second, cancelled transaction
    must leave the committed data untouched."""
    from aws_etl_bank_spark.context import EngineContext
    from aws_etl_bank_spark.operators.dynamicframe import DynamicFrame
    from aws_etl_bank_spark.sources.catalog import Catalog

    path = _scratch(sf_dir, "nation_txn")
    ctx = EngineContext(spark, Catalog())
    txn = ctx.start_transaction()
    sink = ctx.getSink("file", format="parquet", path=path,
                       additional_options={"transactionId": txn})
    sink.setCatalogInfo("golden", "nation_txn")
    sink.write(DynamicFrame.fromDF(load_table(spark, sf_dir, "nation"), ctx, "n"))
    if not ctx.commit_transaction(txn):
        raise ValueError(f"commit_transaction({txn!r}) reported failure")
    txn2 = ctx.start_transaction(read_only=True)
    if not ctx.cancel_transaction(txn2):
        raise ValueError(f"cancel_transaction({txn2!r}) reported failure")
    back = ctx.create_dynamic_frame_from_catalog("golden", "nation_txn").toDF()
    return back.groupBy("n_regionkey").agg(F.count(F.lit(1)).alias("n"))


@q("ts_bucket_rollup", """
SELECT event_type,
       CAST(to_timestamp(floor(epoch(ts) / 21600) * 21600) AS TIMESTAMP) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(SUM(value), 2) AS sum_value
FROM events GROUP BY 1, 2""")
def ts_bucket_rollup(spark, sf_dir):
    """Hypertable-style rollup (functions/timeseries.py): events into
    6-hour epoch-aligned buckets per type — one shuffle, map-side
    partial agg.  The oracle uses the same epoch arithmetic, so bucket
    alignment is pinned rather than delegated to an engine builtin."""
    from aws_etl_bank_spark.functions.timeseries import rollup_time_bucket

    ev = load_table(spark, sf_dir, "events")
    return rollup_time_bucket(
        ev, "ts", 6 * 3600, ["event_type"],
        [F.count(F.lit(1)).alias("n_events"),
         F.round(F.sum("value"), 2).alias("sum_value")],
    )


@q("ts_gapfill_hourly", """
WITH rolled AS (
  SELECT event_type,
         CAST(to_timestamp(floor(epoch(ts) / 3600) * 3600) AS TIMESTAMP) AS bucket,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events WHERE event_type IN ('signup', 'error') GROUP BY 1, 2),
bounds AS (SELECT min(bucket) AS lo, max(bucket) AS hi FROM rolled),
spine AS (
  SELECT k.event_type, unnest(generate_series(b.lo, b.hi, INTERVAL 1 HOUR)) AS bucket
  FROM (SELECT DISTINCT event_type FROM rolled) k, bounds b)
SELECT s.event_type, s.bucket,
       CAST(coalesce(r.n_events, 0) AS BIGINT) AS n_events
FROM spine s LEFT JOIN rolled r USING (event_type, bucket)""")
def ts_gapfill_hourly(spark, sf_dir):
    """Gap-filled hourly rollup (functions/timeseries.py): every
    (event_type, hour) over the global span gets a row, absent hours
    filled with 0 — the continuous-aggregate densify step.  Spine =
    distinct keys x sequence(min, max) — exactly the output size; the
    bounds row broadcasts."""
    from aws_etl_bank_spark.functions.timeseries import (
        gap_fill, rollup_time_bucket)

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("signup", "error"))
    rolled = rollup_time_bucket(
        ev, "ts", 3600, ["event_type"],
        [F.count(F.lit(1)).alias("n_events")])
    return gap_fill(rolled, "bucket", 3600, ["event_type"],
                    {"n_events": F.lit(0).cast("long")})


@q("agg_cube_grouping", """
SELECT CAST(grouping(event_type) AS INT) AS g_type,
       CAST(grouping(d) AS INT) AS g_day,
       event_type, d AS event_day,
       CAST(COUNT(*) AS BIGINT) AS n, ROUND(SUM(value), 2) AS sum_value
FROM (SELECT event_type, CAST(day(ts) AS INT) AS d, value FROM events)
GROUP BY CUBE (event_type, d)""")
def agg_cube_grouping(spark, sf_dir):
    """CUBE aggregation with grouping flags: all 2^2 subtotal layers in
    one pass (Spark expands grouping sets inside a single hash-agg +
    one exchange, not one scan per layer)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.dayofmonth("ts").cast("int").alias("event_day"), "value")
    return (
        ev.cube("event_type", "event_day")
        .agg(F.grouping("event_type").cast("int").alias("g_type"),
             F.grouping("event_day").cast("int").alias("g_day"),
             F.count(F.lit(1)).alias("n"),
             F.round(F.sum("value"), 2).alias("sum_value"))
        .select("g_type", "g_day", "event_type", "event_day", "n",
                "sum_value")
    )


@q("agg_rollup_nation_year", """
SELECT coalesce(n.n_name, 'ALL') AS nation,
       coalesce(CAST(EXTRACT(YEAR FROM o.o_orderdate) AS INT), -1) AS year,
       CAST(GROUPING(n.n_name) * 2 + GROUPING(EXTRACT(YEAR FROM o.o_orderdate))
            AS BIGINT) AS gid,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM orders o
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n ON n.n_nationkey = c.c_nationkey
GROUP BY ROLLUP(n.n_name, EXTRACT(YEAR FROM o.o_orderdate))""")
def agg_rollup_nation_year(spark, sf_dir):
    """Hierarchical ROLLUP aggregate — (nation, year), (nation), ()
    subtotals in ONE pass: Spark's Expand node emits each input row once
    per grouping set BELOW the partial aggregation, so map-side combine
    still applies and the shuffle carries pre-combined rows per set — no
    re-scan per subtotal level, the property that matters when the fact
    is 100 TB.  grouping_id() disambiguates a rollup NULL from a data
    NULL on both engines (same bit order: Spark's grouping_id ==
    GROUPING(a)*2 + GROUPING(b) in DuckDB).  Dims broadcast.  Money
    sums in DECIMAL(18,2) (the tpch_q1 exactness rule): the grand-total
    row sums the WHOLE table, where a double's ULP noise at sf1
    magnitudes (~1e11) flips cents between engines — caught by the r6
    sf1 audit."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    yr = F.year("o_orderdate").cast("int")
    joined = (o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
              .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
              .select(F.col("n_name"), yr.alias("__y"), "o_totalprice"))
    return (
        joined.rollup("n_name", "__y")
        .agg(F.grouping_id().alias("gid"),
             F.count(F.lit(1)).alias("n_orders"),
             F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
             .cast("double").alias("revenue"))
        .select(F.coalesce("n_name", F.lit("ALL")).alias("nation"),
                F.coalesce("__y", F.lit(-1)).alias("year"),
                "gid", "n_orders", "revenue")
    )


@q("agg_cube_type_day", """
SELECT coalesce(event_type, 'ALL') AS event_type,
       coalesce(CAST(EXTRACT(ISODOW FROM ts) AS INT), -1) AS dow,
       CAST(GROUPING(event_type) * 2
            + GROUPING(EXTRACT(ISODOW FROM ts)) AS BIGINT) AS gid,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM events
GROUP BY CUBE(event_type, EXTRACT(ISODOW FROM ts))""")
def agg_cube_type_day(spark, sf_dir):
    """CUBE — all four grouping sets of (event_type, day-of-week) from
    one scan: the ROLLUP entry's sibling exercising the full-lattice
    Expand (4 sets vs rollup's hierarchy).  Spark's dayofweek is
    Sunday=1; ISO day-of-week = ((dayofweek + 5) % 7) + 1 matches
    DuckDB's ISODOW.  Same gid bit order as agg_rollup_nation_year.
    Money sums in DECIMAL(18,2) (the tpch_q1/rollup exactness rule, r6
    ADVICE): the grand-total CUBE row sums the whole events table,
    where double ULP noise at sf1 magnitudes flips cents between
    engines — exact decimal accumulation is also the -0.0-proof form."""
    ev = load_table(spark, sf_dir, "events")
    dow = ((F.dayofweek("ts") + 5) % 7 + 1).cast("int")
    return (
        ev.select("event_type", dow.alias("__d"), "value")
        .cube("event_type", "__d")
        .agg(F.grouping_id().alias("gid"),
             F.count(F.lit(1)).alias("n"),
             F.sum(F.col("value").cast("decimal(18,2)"))
             .cast("double").alias("total"))
        .select(F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
                F.coalesce("__d", F.lit(-1)).alias("dow"),
                "gid", "n", "total")
    )


_CMS_ROWS_SQL = ("(VALUES (0, 131, 737), (1, 1009, 62875), "
                 "(2, 75321, 19), (3, 42643, 80917)) r(row, a, b)")
_CMS_BUCKET_SQL = ("((((({k} % 1000003 + 1000003) % 1000003) * a + b) "
                   "% 1000003) % 1024)")


@q("sketch_count_min_estimates", f"""
WITH cells AS (
  SELECT r.row AS row, {_CMS_BUCKET_SQL.format(k='e.user_id')} AS bucket
  FROM events e, {_CMS_ROWS_SQL}
),
sketch AS (SELECT row, bucket, COUNT(*) AS cnt FROM cells GROUP BY row, bucket),
probes AS (SELECT DISTINCT user_id FROM events WHERE user_id < 110),
pc AS (SELECT p.user_id, r.row AS row,
              {_CMS_BUCKET_SQL.format(k='p.user_id')} AS bucket
       FROM probes p, {_CMS_ROWS_SQL}),
est AS (SELECT user_id, MIN(coalesce(cnt, 0)) AS estimate
        FROM pc LEFT JOIN sketch USING (row, bucket) GROUP BY user_id),
tru AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS true_cnt
        FROM events WHERE user_id < 110 GROUP BY user_id)
SELECT e.user_id, t.true_cnt, e.estimate
FROM est e JOIN tru t USING (user_id)""")
def sketch_count_min_estimates(spark, sf_dir):
    """Count-Min sketch frequency estimation (functions/scale.py
    count_min_sketch / cms_estimate): a depth-4 x 1024 sketch of the
    events key, probed for every user below 110, next to the exact
    counts.  The sketch is ONE hash-aggregation producing depth·width
    rows regardless of input size (mergeable, broadcastable — the
    heavy-hitter/streaming-frequency tool when exact per-key counts
    would be another full shuffle); the engine-reproducible bounded
    hash family makes the whole construction SQL-expressible, so the
    oracle pins every counter, not just the estimate's >= true_cnt
    property (tests pin that)."""
    from aws_etl_bank_spark.functions.scale import (cms_estimate,
                                                    count_min_sketch)

    ev = load_table(spark, sf_dir, "events")
    sketch = count_min_sketch(ev, "user_id", depth=4, width=1024)
    probes = ev.filter(F.col("user_id") < 110).select("user_id").distinct()
    est = cms_estimate(sketch, probes, "user_id", depth=4, width=1024)
    tru = (ev.filter(F.col("user_id") < 110).groupBy("user_id")
           .agg(F.count(F.lit(1)).alias("true_cnt")))
    return est.join(tru, "user_id").select("user_id", "true_cnt", "estimate")


_HLL_RANK_CASE = ("CASE ({h2} & -({h2})) "
                  + " ".join(f"WHEN {1 << t} THEN {t + 1}"
                             for t in range(20))
                  + " ELSE 21 END")
#: affine pre-hash, then the quadratic (mid-square) step — mirrors
#: functions/scale.py _hll_hash exactly; the affine columns are named
#: h_<a> and computed once in an inner projection
_HLL_AFFINE_SQL = ("(((({k} % 1000003 + 1000003) % 1000003) * {a} + {b}) "
                   "% 1000003)")
_HLL_QUAD_SQL = "((h_{a} * h_{a} + {c} * h_{a} + {d}) % 1000003)"
_HLL_ALPHA_M2 = repr(0.7213 / (1.0 + 1.079 / 256) * 256 * 256)


def _hll_oracle_scope(where: str) -> str:
    h2 = _HLL_QUAD_SQL.format(a=76003, c=4391, d=9973)
    reg = _HLL_QUAD_SQL.format(a=4391, c=76003, d=51349) + " % 256"
    affines = (_HLL_AFFINE_SQL.format(k="user_id", a=4391, b=9973)
               + " AS h_4391, "
               + _HLL_AFFINE_SQL.format(k="user_id", a=76003, b=51349)
               + " AS h_76003")
    return f"""
SELECT '{{scope}}' AS scope, t.true_distinct, a.n_set,
       a.s + (256 - a.n_set) AS sum_inv,
       ROUND({_HLL_ALPHA_M2} / (a.s + (256 - a.n_set)), 4) AS est_raw,
       ROUND(CASE WHEN {_HLL_ALPHA_M2} / (a.s + (256 - a.n_set)) <= 640.0
                       AND a.n_set < 256
                  THEN 256.0 * ln(256.0 / (256 - a.n_set))
                  ELSE {_HLL_ALPHA_M2} / (a.s + (256 - a.n_set)) END,
             4) AS estimate
FROM (SELECT CAST(count(*) AS BIGINT) AS n_set,
             SUM(power(2.0, -max_rank)) AS s
      FROM (SELECT register, MAX(rank) AS max_rank
            FROM (SELECT {reg} AS register, {_HLL_RANK_CASE.format(h2=h2)} AS rank
                  FROM (SELECT {affines} FROM events WHERE {{where}}))
            GROUP BY register)) a,
     (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS true_distinct
      FROM events WHERE {{where}}) t""".replace("{where}", where).replace(
        "{scope}", "all" if where == "1=1" else "small")


@q("sketch_hll_distinct",
   _hll_oracle_scope("1=1") + "\nUNION ALL" + _hll_oracle_scope("user_id < 110"))
def sketch_hll_distinct(spark, sf_dir):
    """HyperLogLog cardinality estimation (functions/scale.py
    hll_sketch / hll_merge / hll_estimate) — the mergeable
    DISTINCT-count sibling of the Count-Min frequency sketch directly
    above: 256 registers, each the max trailing-zero rank routed to it;
    merge = cell-wise MAX, so per-partition/per-day sketches roll up
    without re-touching raw keys (an exact count-distinct must reshuffle
    the keys every time).  Two scopes in one result: the full corpus
    (harmonic-mean regime) and the <110-key slice (small-range
    linear-counting regime), each next to its exact distinct count.
    The bounded-integer hash/rank family (no float log in the rank)
    makes every register SQL-expressible, so the oracle reproduces the
    sketch counter-for-counter and the estimate to 4 decimals; the
    merge-equals-union property and the 1.04/sqrt(m) error bound are
    pinned in tests/test_scale.py."""
    from aws_etl_bank_spark.functions.scale import hll_estimate, hll_sketch

    ev = load_table(spark, sf_dir, "events")
    out = []
    for scope, frame in [("all", ev),
                         ("small", ev.filter(F.col("user_id") < 110))]:
        est = hll_estimate(hll_sketch(frame, "user_id", m=256), m=256)
        tru = frame.agg(F.count_distinct("user_id").alias("true_distinct"))
        out.append(est.crossJoin(F.broadcast(tru))
                   .select(F.lit(scope).alias("scope"), "true_distinct",
                           "n_set", "sum_inv", "est_raw", "estimate"))
    return out[0].unionByName(out[1])


@q("pivot_event_counts", """
SELECT user_id,
       CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS click,
       CAST(count(*) FILTER (event_type = 'error') AS BIGINT) AS error,
       CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS purchase,
       CAST(count(*) FILTER (event_type = 'signup') AS BIGINT) AS signup,
       CAST(count(*) FILTER (event_type = 'view') AS BIGINT) AS view
FROM events GROUP BY user_id""")
def pivot_event_counts(spark, sf_dir):
    """Pivot: per-user event counts, one column per event type.  The
    pivot values are passed explicitly — with an explicit list Spark
    skips the extra distinct-values job and plans a single aggregation;
    missing combinations coalesce to 0 to match the oracle's FILTER
    counts."""
    types = ["click", "error", "purchase", "signup", "view"]
    ev = load_table(spark, sf_dir, "events")
    piv = ev.groupBy("user_id").pivot("event_type", types).count()
    return piv.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).cast("long").alias(t) for t in types])


@q("agg_percentiles", """
SELECT event_type,
       ROUND(quantile_cont(value, 0.5), 4) AS p50,
       ROUND(quantile_cont(value, 0.9), 4) AS p90,
       ROUND(median(value), 4) AS med
FROM events GROUP BY event_type""")
def agg_percentiles(spark, sf_dir):
    """EXACT interpolated percentiles (Spark's percentile / median
    aggregate = DuckDB quantile_cont): the distribution-stats building
    block.  Exact percentile sorts per group in the agg buffer — at
    100 TB swap in approx_percentile (t-digest, mergeable partial aggs)
    when 1e-3 relative error is acceptable; the exact form stays the
    oracle."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.percentile("value", 0.5), 4).alias("p50"),
        F.round(F.percentile("value", 0.9), 4).alias("p90"),
        F.round(F.median("value"), 4).alias("med"),
    )


@q("scd2_as_of_read", """
WITH cur AS (SELECT c_custkey, c_name FROM customer),
unchanged AS (
  SELECT c_custkey, c_name, true AS is_active,
         TIMESTAMP '2020-01-01' AS record_created_time,
         DATE '3000-01-01' AS record_updated_time
  FROM cur WHERE c_custkey % 10 NOT IN (0, 3)),
closed AS (
  SELECT c_custkey, c_name, false AS is_active,
         TIMESTAMP '2020-01-01' AS record_created_time,
         DATE '2024-01-01' AS record_updated_time
  FROM cur WHERE c_custkey % 10 IN (0, 3)),
ins AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 10 = 0 THEN upper(c_name) ELSE NULL END AS c_name,
         true AS is_active,
         TIMESTAMP '2024-01-01' AS record_created_time,
         DATE '3000-01-01' AS record_updated_time
  FROM cur WHERE c_custkey % 10 IN (0, 3)),
newk AS (
  SELECT c_custkey + (SELECT max(c_custkey) FROM customer) AS c_custkey,
         CAST(NULL AS VARCHAR) AS c_name,
         true AS is_active,
         TIMESTAMP '2024-01-01' AS record_created_time,
         DATE '3000-01-01' AS record_updated_time
  FROM cur WHERE c_custkey % 10 = 7),
merged AS (
  SELECT * FROM unchanged UNION ALL SELECT * FROM closed
  UNION ALL SELECT * FROM ins UNION ALL SELECT * FROM newk)
SELECT c_custkey, c_name, is_active FROM merged
WHERE record_created_time <= TIMESTAMP '2022-06-15'
  AND record_updated_time > DATE '2022-06-15'""")
def scd2_as_of_read(spark, sf_dir):
    """Point-in-time dim read (scd.py scd2_as_of): the same merged SCD2
    dim as scd2_merge_dim, viewed as of a date BETWEEN the original load
    and the merge — so the query must surface the since-closed 2020
    versions and exclude every 2024 insert.  Time travel over plain
    parquet via effective-dating, no table format required."""
    from aws_etl_bank_spark.scd import scd2_as_of, scd2_merge, scd2_stamp

    snap = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    current = scd2_stamp(snap, "2020-01-01")
    changed = snap.withColumn(
        "c_name",
        F.when(F.col("c_custkey") % 10 == 0, F.upper("c_name"))
        .when(F.col("c_custkey") % 10 == 3, F.lit(None).cast("string"))
        .otherwise(F.col("c_name")),
    )
    max_key = snap.agg(F.max("c_custkey")).first()[0]
    new_keys = snap.filter(F.col("c_custkey") % 10 == 7).select(
        (F.col("c_custkey") + F.lit(max_key)).alias("c_custkey"),
        F.lit(None).cast("string").alias("c_name"),
    )
    merged = scd2_merge(current, changed.unionByName(new_keys),
                        ["c_custkey"], as_of="2024-01-01")
    return scd2_as_of(merged, "2022-06-15").select(
        "c_custkey", "c_name", "is_active")


@q("unpivot_melt", """
SELECT c_custkey, kind, val FROM
  (SELECT c_custkey, c_acctbal AS balance,
          CAST(c_nationkey AS DOUBLE) AS nation FROM customer)
UNPIVOT (val FOR kind IN (balance, nation))""")
def unpivot_melt(spark, sf_dir):
    """Unpivot/melt — wide-to-long, the inverse of pivot: a map-only
    Expand node (each input row fans out to one row per value column),
    no shuffle at any scale."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_acctbal").alias("balance"),
        F.col("c_nationkey").cast("double").alias("nation"))
    return cust.unpivot("c_custkey", ["balance", "nation"], "kind", "val")


@q("win_rank_family", """
SELECT event_id, event_type,
       rank()         OVER w AS rnk,
       dense_rank()   OVER w AS drnk,
       ntile(4)       OVER w AS quartile,
       ROUND(percent_rank() OVER w, 6) AS pct_rank,
       ROUND(cume_dist()    OVER w, 6) AS cume
FROM events
WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)""")
def win_rank_family(spark, sf_dir):
    """The full ranking-window family in one sorted pass: rank,
    dense_rank, ntile, percent_rank, cume_dist all share a single
    (event_type, value) sort — one exchange, five functions.  The
    event_id tiebreak makes every rank deterministic."""
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id", "event_type",
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


_EXPECTED_SCHEMA = [
    ("region", "r_regionkey", "int"), ("region", "r_name", "string"),
    ("nation", "n_nationkey", "int"), ("nation", "n_name", "string"),
    ("nation", "n_regionkey", "int"),
    ("customer", "c_custkey", "bigint"), ("customer", "c_name", "string"),
    ("customer", "c_nationkey", "int"), ("customer", "c_acctbal", "double"),
    ("customer", "c_mktsegment", "string"),
    ("supplier", "s_suppkey", "bigint"), ("supplier", "s_name", "string"),
    ("supplier", "s_nationkey", "int"), ("supplier", "s_acctbal", "double"),
    ("part", "p_partkey", "bigint"), ("part", "p_name", "string"),
    ("part", "p_brand", "string"), ("part", "p_type", "string"),
    ("part", "p_size", "int"), ("part", "p_retailprice", "double"),
    ("orders", "o_orderkey", "bigint"), ("orders", "o_custkey", "bigint"),
    ("orders", "o_orderstatus", "string"), ("orders", "o_totalprice", "double"),
    ("orders", "o_orderdate", "timestamp"),
    ("orders", "o_orderpriority", "string"),
    ("lineitem", "l_orderkey", "bigint"), ("lineitem", "l_partkey", "bigint"),
    ("lineitem", "l_suppkey", "bigint"), ("lineitem", "l_linenumber", "int"),
    ("lineitem", "l_quantity", "double"),
    ("lineitem", "l_extendedprice", "double"),
    ("lineitem", "l_discount", "double"), ("lineitem", "l_tax", "double"),
    ("lineitem", "l_returnflag", "string"),
    ("lineitem", "l_linestatus", "string"),
    ("lineitem", "l_shipdate", "timestamp"),
    ("events", "event_id", "bigint"), ("events", "ts", "timestamp"),
    ("events", "user_id", "bigint"), ("events", "event_type", "string"),
    ("events", "value", "double"), ("events", "props", "string"),
    ("documents", "doc_id", "bigint"), ("documents", "text", "string"),
    ("documents", "lang", "string"), ("documents", "source", "string"),
    ("documents", "n_chars", "bigint"),
    ("embeddings", "vec_id", "bigint"),
    ("embeddings", "embedding", "array<float>"),
    ("embeddings", "label", "int"),
]

_SCHEMA_SMOKE_ORACLE = "SELECT * FROM (VALUES " + ", ".join(
    f"('{t}', '{c}', '{d}')" for t, c, d in _EXPECTED_SCHEMA
) + ") AS v(table_name, column_name, dtype)"


@q("testdata_schema_smoke", _SCHEMA_SMOKE_ORACLE)
def testdata_schema_smoke(spark, sf_dir):
    """Environment-drift tripwire (run FIRST in _PRIORITY): the observed
    post-``load_table`` schema of every testdata table, compared against
    a PINNED literal oracle.  A driver testdata regeneration that the
    dtype-guarded accessors cannot absorb (new/removed column, a type
    outside the naive-timestamp family) fails loudly in this ONE row
    instead of surfacing as N confusing downstream failures — the
    round-3 drift (events.ts TIMESTAMP(NANOS) → timestamp[us]) crashed
    five streaming entries before this existed.  Naive-timestamp flavors
    (TIMESTAMP vs TIMESTAMP_NTZ) collapse to 'timestamp' because the
    accessors normalize them.  Schema-only parquet footer reads — no
    data scan."""
    from aws_etl_bank_spark.sources.testdata import TABLES, load_table

    rows = []
    for t in TABLES:
        for c, dt in load_table(spark, sf_dir, t).dtypes:
            norm = "timestamp" if dt in ("timestamp", "timestamp_ntz") else dt
            rows.append((t, c, norm))
    return spark.createDataFrame(
        rows, "table_name string, column_name string, dtype string")


@q("funnel_view_click_purchase", """
WITH v AS (SELECT user_id, min(ts) AS view_ts FROM events
           WHERE event_type = 'view' GROUP BY user_id),
c AS (SELECT e.user_id, min(e.ts) AS click_ts FROM events e JOIN v USING (user_id)
      WHERE e.event_type = 'click' AND e.ts >= v.view_ts GROUP BY e.user_id),
p AS (SELECT e.user_id, min(e.ts) AS purchase_ts FROM events e JOIN c USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts >= c.click_ts GROUP BY e.user_id)
SELECT v.user_id, v.view_ts, c.click_ts, p.purchase_ts
FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)""")
def funnel_view_click_purchase(spark, sf_dir):
    """Ordered 3-stage funnel (functions/eventstream.py): per user the
    earliest view, the earliest click at-or-after it, the earliest
    purchase at-or-after that — conversion attribution as N-1 same-key
    shuffles with per-user state bounded by one timestamp per stage."""
    from aws_etl_bank_spark.functions.eventstream import funnel_stages

    ev = load_table(spark, sf_dir, "events")
    return funnel_stages(ev, ["view", "click", "purchase"])


@q("ts_rolling_zscore", """
SELECT event_id, event_type, ts, value,
       ROUND((value - AVG(value) OVER w)
             / NULLIF(STDDEV_SAMP(value) OVER w, 0), 4) + 0 AS zscore
FROM events
WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
             ROWS BETWEEN 100 PRECEDING AND 1 PRECEDING)""")
def ts_rolling_zscore(spark, sf_dir):
    """Rolling z-score anomaly scoring (functions/eventstream.py): each
    event's value against the trailing-100 window of its type, the row
    itself excluded so an outlier cannot mask itself.  One sorted window
    pass; NULL until a type has 2 trailing rows."""
    from aws_etl_bank_spark.functions.eventstream import rolling_zscore

    ev = load_table(spark, sf_dir, "events")
    return rolling_zscore(
        ev.select("event_id", "event_type", "ts", "value"),
        "value", ["event_type"], ["ts", "event_id"], window_rows=100,
    ).withColumn("zscore", F.round("zscore", 4) + F.lit(0.0))


@q("ts_rolling_zscore_bucketed", """
SELECT event_id, event_type, ts, value,
       ROUND((value - AVG(value) OVER w)
             / NULLIF(STDDEV_SAMP(value) OVER w, 0), 4) + 0 AS zscore
FROM events
WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
             ROWS BETWEEN 100 PRECEDING AND 1 PRECEDING)""")
def ts_rolling_zscore_bucketed(spark, sf_dir):
    """Hot-key-split rolling z-score (operators/windows.py via
    functions/eventstream.py): same oracle as ts_rolling_zscore — the
    row-bucketed window with boundary-carry must be value-identical to
    the serial per-key window, while each event_type (5 hot keys across
    the whole table) spreads over ~bucket_rows-row tasks instead of one.
    This is the 100 TB mitigation VERDICT r4 flagged as missing."""
    from aws_etl_bank_spark.functions.eventstream import rolling_zscore

    ev = load_table(spark, sf_dir, "events")
    return rolling_zscore(
        ev.select("event_id", "event_type", "ts", "value"),
        "value", ["event_type"], ["ts", "event_id"], window_rows=100,
        coarse_bucket_seconds=3600.0, bucket_rows=2000,
    ).withColumn("zscore", F.round("zscore", 4) + F.lit(0.0))


@q("agg_salted_event_totals", """
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(SUM(value), 2) AS sum_value
FROM events GROUP BY event_type""")
def agg_salted_event_totals(spark, sf_dir):
    """Two-phase salted aggregation (functions/scale.py salted_agg) on a
    deliberately hot key space (5 event types across the whole table):
    partials within (key, salt) cap per-task state at n_salts rows per
    hot key, the combine phase re-aggregates — results must be EXACTLY
    the plain GROUP BY the oracle runs.  Content-derived salt
    (xxhash64 of event_id) keeps retries deterministic.  The 100 TB
    answer to a grouping key that AQE cannot split because partial
    aggregation already collapsed it into one fat task."""
    from aws_etl_bank_spark.functions.scale import salted_agg

    ev = load_table(spark, sf_dir, "events")
    return salted_agg(
        ev, ["event_type"],
        partials=[F.count(F.lit(1)).alias("pn"), F.sum("value").alias("pv")],
        aggs=[F.sum("pn").alias("n_events"),
              F.round(F.sum("pv"), 2).alias("sum_value")],
        n_salts=16, salt_by="event_id",
    )


@q("agg_approx_distinct_ratio", """
SELECT event_type, CAST(1.0 AS DOUBLE) AS accuracy_band
FROM events GROUP BY event_type""")
def agg_approx_distinct_ratio(spark, sf_dir):
    """The 100 TB COUNT(DISTINCT) swap-in, accuracy-checked: per event
    type, approx_count_distinct(user_id) at rsd=0.02 (HyperLogLog++)
    divided by the exact distinct count, rounded to one decimal — a
    driver-checkable assertion that the sketch stays within ±5% of
    truth (the oracle expects literally 1.0 per group); the default
    rsd=0.05 sketch realized a 7% error at sf0.1's ~30k distinct users,
    so the band pins the tighter sketch at every SF.  At scale the
    approx runs map-side with fixed sketch memory while exact distinct
    needs a two-phase expand shuffle."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg((F.approx_count_distinct("user_id", rsd=0.02)
              / F.count_distinct("user_id")).alias("ratio"))
        .select("event_type",
                F.round("ratio", 1).cast("double").alias("accuracy_band"))
    )


@q("cohort_retention_weekly", """
WITH first_seen AS (
  SELECT user_id, min(ts) AS first_ts FROM events
  WHERE event_type = 'signup' GROUP BY user_id),
cohorts AS (
  SELECT user_id,
         CAST(floor(epoch(first_ts) / 604800) AS BIGINT) AS cohort_bucket
  FROM first_seen),
activity AS (
  SELECT DISTINCT c.cohort_bucket,
         CAST(floor(epoch(e.ts) / 604800) AS BIGINT) - c.cohort_bucket
             AS bucket_offset,
         e.user_id
  FROM events e JOIN cohorts c USING (user_id))
SELECT cohort_bucket, bucket_offset, CAST(COUNT(*) AS BIGINT) AS n_active
FROM activity WHERE bucket_offset >= 0 GROUP BY 1, 2""")
def cohort_retention_weekly(spark, sf_dir):
    """Weekly cohort retention triangle (functions/eventstream.py):
    users cohorted by first-signup week, distinct-counted per (cohort,
    week offset) of any later activity."""
    from aws_etl_bank_spark.functions.eventstream import cohort_retention

    ev = load_table(spark, sf_dir, "events")
    return cohort_retention(ev, "signup")


@q("stream_sliding_counts", """
WITH e AS (SELECT event_type, value, epoch(ts) AS t FROM events),
x AS (
  SELECT event_type, value,
         unnest(range(CAST(floor(t / 7200) AS BIGINT) - 2,
                      CAST(floor(t / 7200) AS BIGINT) + 1)) AS k
  FROM e)
SELECT CAST(to_timestamp(k * 7200) AS TIMESTAMP) AS window_start,
       event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(SUM(value), 2) AS sum_value
FROM x GROUP BY 1, 2""")
def stream_sliding_counts(spark, sf_dir):
    """SLIDING windowed aggregation (streaming/runner.py
    windowed_event_counts with slide): 6-hour windows every 2 hours, so
    each event lands in 3 overlapping windows — Spark's window() Expand
    against a DuckDB per-event covering-window unnest.  Batch mode here
    (the operator is stream/batch-identical; the streaming path is
    exercised by stream_window_counts and the late-data test)."""
    from aws_etl_bank_spark.streaming import windowed_event_counts

    ev = load_table(spark, sf_dir, "events")
    return windowed_event_counts(ev, "6 hours", slide="2 hours")


@q("scale_bucketed_join_agg", """
SELECT o.o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders,
       ROUND(SUM(o.o_totalprice), 2) AS total
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY o.o_custkey""")
def scale_bucketed_join_agg(spark, sf_dir):
    """Bucketed co-located join + same-key AGGREGATION (the sibling of
    ``scale_bucketed_join``, which projects; this one proves the
    aggregate after the join also runs exchange-free): both sides
    persisted bucketBy(custkey) with the same bucket count, so the join
    and the following same-key aggregation run with NO exchange (plan
    asserted in tests/test_scale.py) — the pay-the-shuffle-once layout
    for a fact repeatedly joined on one key at 100 TB.  Results must
    equal the plain shuffle join the oracle runs."""
    from aws_etl_bank_spark.functions.scale import (
        read_bucketed, reset_and_write_bucketed, sf_table_tag)

    sfx = sf_table_tag(sf_dir)
    t_orders, t_cust = f"b_orders_{sfx}", f"b_cust_{sfx}"
    reset_and_write_bucketed(spark,
                             load_table(spark, sf_dir, "orders")
                             .select("o_orderkey", "o_custkey",
                                     "o_totalprice"),
                             t_orders, "o_custkey", 8)
    reset_and_write_bucketed(spark,
                             load_table(spark, sf_dir, "customer")
                             .select("c_custkey"), t_cust, "c_custkey", 8)
    o, c = read_bucketed(spark, t_orders), read_bucketed(spark, t_cust)
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"),
             F.round(F.sum("o_totalprice"), 2).alias("total"))
    )


@q("scale_range_clustered_read", """
SELECT CAST(COUNT(*) AS BIGINT) AS n, ROUND(SUM(o_totalprice), 2) AS total,
       ROUND(MIN(o_totalprice), 2) AS lo, ROUND(MAX(o_totalprice), 2) AS hi
FROM orders WHERE o_totalprice BETWEEN 1000 AND 5000""")
def scale_range_clustered_read(spark, sf_dir):
    """Range-clustered layout roundtrip (functions/scale.py
    write_range_clustered): orders re-laid-out by o_totalprice
    (repartitionByRange + sortWithinPartitions → non-overlapping
    per-file min/max footers, asserted in tests/test_scale.py), then a
    range predicate reads it back — parquet file-level stats prune
    whole files, and the numbers must match the unclustered oracle
    scan."""
    from aws_etl_bank_spark.functions.scale import write_range_clustered

    path = _scratch(sf_dir, "orders_range_clustered")
    write_range_clustered(
        load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice"),
        path, ["o_totalprice"], n_files=8)
    back = spark.read.parquet(path).filter(
        F.col("o_totalprice").between(1000, 5000))
    return back.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
        F.round(F.min("o_totalprice"), 2).alias("lo"),
        F.round(F.max("o_totalprice"), 2).alias("hi"),
    )


@q("quality_metrics_orders", """
WITH m AS (
  SELECT round(CAST(count(*) AS DOUBLE), 4) AS c,
         round(avg(CASE WHEN o_orderstatus IS NOT NULL THEN 1.0 ELSE 0.0 END), 4) AS comp,
         round(CAST(count(DISTINCT o_orderkey) AS DOUBLE) / count(*), 4) AS uniq_key,
         round(CAST(count(DISTINCT o_custkey) AS DOUBLE) / count(*), 4) AS uniq_cust,
         round(avg(CASE WHEN o_totalprice > 0 THEN 1.0 ELSE 0.0 END), 4) AS price_pos,
         round(CAST(min(o_totalprice) AS DOUBLE), 4) AS mn,
         round(CAST(max(o_totalprice) AS DOUBLE), 4) AS mx,
         round(avg(o_totalprice), 4) AS av
  FROM orders)
SELECT 'count(*)' AS metric, c AS value FROM m
UNION ALL SELECT 'completeness(o_orderstatus)', comp FROM m
UNION ALL SELECT 'uniqueness(o_orderkey)', uniq_key FROM m
UNION ALL SELECT 'uniqueness(o_custkey)', uniq_cust FROM m
UNION ALL SELECT 'compliance(totalprice>0)', price_pos FROM m
UNION ALL SELECT 'min(o_totalprice)', mn FROM m
UNION ALL SELECT 'max(o_totalprice)', mx FROM m
UNION ALL SELECT 'mean(o_totalprice)', av FROM m""")
def quality_metrics_orders(spark, sf_dir):
    """Deequ-style metric suite (functions/quality.py): 8 constraint
    metrics over orders in ONE aggregation pass (single scan + global
    agg; the two exact distincts share the Expand).  Long-format
    (metric, value) output; doubles rounded to 4 on both sides."""
    from aws_etl_bank_spark.functions import quality as Q

    orders = load_table(spark, sf_dir, "orders")
    return Q.profile(orders, [
        Q.row_count(),
        Q.completeness("o_orderstatus"),
        Q.uniqueness("o_orderkey"),
        Q.uniqueness("o_custkey"),
        Q.compliance("totalprice>0", F.col("o_totalprice") > 0),
        Q.minimum("o_totalprice"),
        Q.maximum("o_totalprice"),
        Q.mean("o_totalprice"),
    ], round_to=4)


@q("quality_check_lineitem", """
WITH m AS (
  SELECT round(avg(CASE WHEN l_orderkey IS NOT NULL THEN 1.0 ELSE 0.0 END), 4) AS comp,
         round(avg(CASE WHEN l_quantity BETWEEN 1 AND 50 THEN 1.0 ELSE 0.0 END), 4) AS qty,
         round(avg(CASE WHEN l_discount >= 0 AND l_discount <= 0.1 THEN 1.0 ELSE 0.0 END), 4) AS disc,
         round(CAST(count(DISTINCT l_orderkey) AS DOUBLE) / count(*), 4) AS uniq
  FROM lineitem)
SELECT 'orderkey complete' AS "check", 'completeness(l_orderkey)' AS metric,
       comp AS value, comp = 1.0 AS passed FROM m
UNION ALL SELECT 'quantity in [1,50]', 'compliance(qty in [1,50])', qty, qty = 1.0 FROM m
UNION ALL SELECT 'discount in [0,0.1]', 'compliance(disc in [0,0.1])', disc, disc >= 0.99 FROM m
UNION ALL SELECT 'orderkey not unique', 'uniqueness(l_orderkey)', uniq, uniq < 1.0 FROM m""")
def quality_check_lineitem(spark, sf_dir):
    """Constraint suite with assertions (functions/quality.py check):
    (check, metric, value, passed) rows, still one aggregation pass —
    the pass/fail layer is map-side arithmetic over the wide agg row."""
    from aws_etl_bank_spark.functions import quality as Q

    li = load_table(spark, sf_dir, "lineitem")
    return Q.check(li, [
        ("orderkey complete", Q.completeness("l_orderkey"),
         lambda v: v == 1.0),
        ("quantity in [1,50]",
         Q.compliance("qty in [1,50]", F.col("l_quantity").between(1, 50)),
         lambda v: v == 1.0),
        ("discount in [0,0.1]",
         Q.compliance("disc in [0,0.1]",
                      (F.col("l_discount") >= 0) & (F.col("l_discount") <= 0.1)),
         lambda v: v >= 0.99),
        ("orderkey not unique", Q.uniqueness("l_orderkey"),
         lambda v: v < 1.0),
    ], round_to=4)


@q("agg_approx_percentile_band", """
SELECT event_type, CAST(1.0 AS DOUBLE) AS p50_band, CAST(1.0 AS DOUBLE) AS p90_band
FROM events GROUP BY event_type""")
def agg_approx_percentile_band(spark, sf_dir):
    """The 100 TB percentile swap-in, accuracy-checked like
    agg_approx_distinct_ratio: per event type, approx_percentile
    (Greenwald-Khanna, accuracy=10000, mergeable partial aggs — no
    per-group sort buffer) divided by the exact interpolated percentile
    (agg_percentiles' oracle form), rounded to one decimal.  The oracle
    expects literally 1.0: the sketch's rank error is ≤ n/accuracy rows,
    which stays within the ±5% band through sf10-scale group sizes (the
    GK guarantee degrades linearly in n — raise accuracy with SF, the
    memory cost is O(accuracy), not O(n))."""
    ev = load_table(spark, sf_dir, "events")
    approx = F.percentile_approx("value", F.array(F.lit(0.5), F.lit(0.9)), 10000)
    return (
        ev.groupBy("event_type")
        .agg(approx.alias("ap"),
             F.percentile("value", 0.5).alias("x50"),
             F.percentile("value", 0.9).alias("x90"))
        .select("event_type",
                F.round(F.col("ap")[0] / F.col("x50"), 1).cast("double").alias("p50_band"),
                F.round(F.col("ap")[1] / F.col("x90"), 1).cast("double").alias("p90_band"))
    )


@q("join_bloom_prefilter", """
SELECT o.o_orderkey, o.o_custkey, ROUND(o.o_totalprice, 2) AS total,
       c.c_name
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
WHERE c.c_nationkey = 3""")
def join_bloom_prefilter(spark, sf_dir):
    """Explicit Bloom runtime filter ahead of a fact⋈dim join
    (functions/scale.py bloom_prefilter_join): the dim's key set (one
    nation's customers, ~4% of orders match) is compressed to a ≤32 KiB
    bitmap built from xxhash64 positions, broadcast as ONE row, and
    probed JVM-side to drop non-matching fact rows BEFORE the join — the
    exact join then makes false positives free, so the result is
    byte-identical to the plain join (the oracle is the plain join).

    At 100 TB this prunes the fact's shuffle write by the dim's
    selectivity even when the dim itself is broadcast-too-big: the
    bitmap's size is fixed by m_bits regardless of key count, unlike a
    broadcast hash table.  tests/test_scale.py proves no false
    negatives and bounds the false-positive rate."""
    from aws_etl_bank_spark.functions.scale import bloom_prefilter_join

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").where(F.col("c_nationkey") == 3)
    joined = bloom_prefilter_join(o, c, "o_custkey", "c_custkey")
    return joined.select(
        "o_orderkey", "o_custkey",
        F.round("o_totalprice", 2).alias("total"), "c_name")


def _rev_dec():
    """Line revenue as an EXACT decimal: price and discount carry ≤ 2
    decimals, so DECIMAL(18,2) × (1 − DECIMAL(4,2)) is exact at scale 4
    and its SUM is exact and summation-order-independent — unlike a
    double sum, whose ULP noise at sf1 magnitudes (~1e11) flips cent
    rounding between engines, and unlike ROUND-ing the decimal to 2,
    where a sum ending in .xx5 rounds HALF_UP in Spark but HALF_EVEN in
    DuckDB (both observed in sf1 audits).  The exact scale-4 value casts
    to the identical double on both engines."""
    one = F.lit(1.00).cast("decimal(4,2)")
    return (F.col("l_extendedprice").cast("decimal(18,2)")
            * (one - F.col("l_discount").cast("decimal(4,2)")))


@q("tpch_q1_pricing_summary", """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1.00 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))))
            AS DOUBLE) AS sum_disc_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1.00 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))
                * (CAST(1.00 AS DECIMAL(4,2)) + CAST(l_tax AS DECIMAL(4,2))))
            AS VARCHAR) AS sum_charge,
       ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 4) AS avg_qty,
       ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 4) AS avg_price,
       ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) / COUNT(*), 4) AS avg_disc,
       CAST(COUNT(*) AS BIGINT) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus""")
def tpch_q1_pricing_summary(spark, sf_dir):
    """TPC-H Q1 (pricing summary report) — the canonical scan-heavy
    single-pass aggregation: one lineitem scan with the shipdate
    predicate pushed to parquet, every aggregate a mergeable partial
    (map-side combine), grouped on a 6-value key.  The plan IS the
    100 TB plan: no join, one exchange of 6 rows worth of partials.

    Money aggregates run in EXACT decimals (see _rev_dec's rationale);
    sum_charge carries scale 6, whose integer representation exceeds
    2^53 at sf1 — the decimal→double conversion then disagrees across
    engines in the last ULP — so it is emitted as the canonical decimal
    STRING (identical rendering incl. trailing zeros on both engines).
    The scale-2/4 sums stay exact as doubles through ~sf10."""
    li = load_table(spark, sf_dir, "lineitem")
    one = F.lit(1.00).cast("decimal(4,2)")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    qty = F.col("l_quantity").cast("decimal(18,2)")
    dsc = F.col("l_discount").cast("decimal(4,2)")
    tax = F.col("l_tax").cast("decimal(4,2)")
    disc = price * (one - dsc)
    n = F.count(F.lit(1))
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.sum(qty).cast("double").alias("sum_qty"),
             F.sum(price).cast("double").alias("sum_base_price"),
             F.sum(disc).cast("double").alias("sum_disc_price"),
             F.sum(disc * (one + tax)).cast("string").alias("sum_charge"),
             F.round(F.sum(qty).cast("double") / n, 4).alias("avg_qty"),
             F.round(F.sum(price).cast("double") / n, 4).alias("avg_price"),
             F.round(F.sum(dsc).cast("double") / n, 4).alias("avg_disc"),
             n.alias("count_order"))
    )


@q("tpch_q3_shipping_priority", """
SELECT l.l_orderkey,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                * (CAST(1.00 AS DECIMAL(4,2)) - CAST(l.l_discount AS DECIMAL(4,2))))
            AS DOUBLE) AS revenue,
       o.o_orderdate
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1999-03-15'
  AND l.l_shipdate > TIMESTAMP '1999-03-15'
GROUP BY l.l_orderkey, o.o_orderdate
ORDER BY revenue DESC, o.o_orderdate, l.l_orderkey
LIMIT 10""")
def tpch_q3_shipping_priority(spark, sf_dir):
    """TPC-H Q3 (shipping priority): selective dim filter (one market
    segment) broadcast into the orders⋈lineitem chain, aggregate by
    order, global top-10.  Both date predicates push to the scans; the
    final sort sees only the aggregated orders, and the row_number-free
    ORDER BY+LIMIT compiles to TakeOrderedAndProject (per-partition
    top-10, merge on the driver — never a full sort at scale).  The
    l_orderkey tiebreak makes the cut deterministic for the oracle."""
    c = load_table(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1999-03-15").cast("timestamp"))
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1999-03-15").cast("timestamp"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.sum(_rev_dec()).cast("double").alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.col("revenue").desc(), "o_orderdate", "l_orderkey")
        .limit(10)
    )


@q("tpch_q5_local_supplier_volume", """
SELECT n.n_name,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                * (CAST(1.00 AS DECIMAL(4,2)) - CAST(l.l_discount AS DECIMAL(4,2))))
            AS DOUBLE) AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n.n_name""")
def tpch_q5_local_supplier_volume(spark, sf_dir):
    """TPC-H Q5 (local supplier volume): the 6-table join with the
    customer-nation = supplier-nation co-membership condition.  Every
    dim (supplier/nation/region/filtered customer) broadcasts; the only
    shuffle-sized join is orders⋈lineitem, and the region filter prunes
    nation/supplier BEFORE they reach the fact — Catalyst pushes it
    through the join chain."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp")))
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), (li.l_suppkey == s.s_suppkey)
              & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(_rev_dec()).cast("double").alias("revenue"))
    )


@q("tpch_q18_large_volume_customer", """
WITH big AS (
  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
  HAVING SUM(l_quantity) > 300
)
SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
       ROUND(o.o_totalprice, 2) AS o_totalprice,
       ROUND(SUM(l.l_quantity), 2) AS total_qty
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE o.o_orderkey IN (SELECT l_orderkey FROM big)
GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice""")
def tpch_q18_large_volume_customer(spark, sf_dir):
    """TPC-H Q18 (large-volume customers): the HAVING-filtered order
    shortlist computed as a WINDOW sum over the fact's own orderkey —
    the aggregate-plus-semi-join-back form scanned lineitem twice; the
    window form scans once, and its exchange leaves the fact hash-
    partitioned by l_orderkey, which the orders join then reuses
    (EnsureRequirements adds no second lineitem shuffle).  Per-order
    groups are line-count bounded, so the window carries no skew."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    order_qty = F.sum("l_quantity").over(Window.partitionBy("l_orderkey"))
    return (
        li.withColumn("__oq", order_qty).where(F.col("__oq") > 300)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .select("c_name", "c_custkey", "o_orderkey", "o_orderdate",
                F.round("o_totalprice", 2).alias("o_totalprice"), "total_qty")
    )


@q("src_orc_roundtrip", """
SELECT n_nationkey, n_name, n_regionkey FROM nation""")
def src_orc_roundtrip(spark, sf_dir):
    """ORC source/sink through the same format-dispatched DataSource /
    DataSink path as parquet (SPARK_SQL_FORMATS includes orc —
    sources/datasource.py:23): nation written as ORC, read back via
    getSource("file", format="orc").  Spark's native ORC reader keeps
    predicate pushdown and column pruning, so everything the plan audit
    says about parquet scans holds for ORC lakes too."""
    from aws_etl_bank_spark.context import EngineContext
    from aws_etl_bank_spark.operators.dynamicframe import DynamicFrame

    path = _scratch(sf_dir, "nation_orc")
    ctx = EngineContext(spark)
    sink = ctx.getSink("file", format="orc", path=path)
    sink.write(DynamicFrame.fromDF(
        load_table(spark, sf_dir, "nation"), ctx, "n"))
    src = ctx.getSource("file", format="orc", paths=[path])
    return (src.getFrame(glue_ctx=ctx, name="nation_orc").toDF()
            .select("n_nationkey", "n_name", "n_regionkey"))


@q("src_xml_roundtrip", """
SELECT n_nationkey, n_name, n_regionkey FROM nation""")
def src_xml_roundtrip(spark, sf_dir):
    """XML source/sink through the format-dispatched DataSource/DataSink
    path — Spark 4's NATIVE xml datasource (rowTag option), no external
    jar: nation written as <nation> row elements, read back via
    getSource("file", format="xml").  Element order within a row is not
    positional, so columns are re-selected by name; values and schema
    must round-trip exactly (the XML reader infers longs for the int
    columns — cast back to the table's types)."""
    from aws_etl_bank_spark.context import EngineContext
    from aws_etl_bank_spark.operators.dynamicframe import DynamicFrame

    path = _scratch(sf_dir, "nation_xml")
    ctx = EngineContext(spark)
    sink = ctx.getSink("file", format="xml", path=path,
                       format_options={"rowTag": "nation"})
    sink.write(DynamicFrame.fromDF(
        load_table(spark, sf_dir, "nation"), ctx, "n"))
    src = ctx.getSource("file", format="xml", paths=[path],
                        format_options={"rowTag": "nation"})
    nat = load_table(spark, sf_dir, "nation")
    types = dict(nat.select("n_nationkey", "n_name", "n_regionkey").dtypes)
    return (src.getFrame(glue_ctx=ctx, name="nation_xml").toDF()
            .select(*[F.col(c).cast(t) for c, t in types.items()]))


@q("src_jsonl_roundtrip", """
SELECT n_nationkey, n_name, n_regionkey FROM nation""")
def src_jsonl_roundtrip(spark, sf_dir):
    """JSON-lines source/sink through the dispatched DataSource path:
    nation written as newline-delimited JSON, read back via
    getSource("file", format="json") with long-vs-double numeric types
    restored by an explicit projection cast (JSON erases int width —
    the read infers bigint here, matching the source)."""
    from aws_etl_bank_spark.context import EngineContext
    from aws_etl_bank_spark.operators.dynamicframe import DynamicFrame

    path = _scratch(sf_dir, "nation_jsonl")
    ctx = EngineContext(spark)
    sink = ctx.getSink("file", format="json", path=path)
    sink.write(DynamicFrame.fromDF(
        load_table(spark, sf_dir, "nation"), ctx, "n"))
    src = ctx.getSource("file", format="json", paths=[path])
    return (src.getFrame(glue_ctx=ctx, name="nation_jsonl").toDF()
            .select(F.col("n_nationkey").cast("int").alias("n_nationkey"),
                    "n_name",
                    F.col("n_regionkey").cast("int").alias("n_regionkey")))


@q("maintenance_compact_roundtrip", """
SELECT c_custkey, c_name, c_nationkey FROM customer""")
def maintenance_compact_roundtrip(spark, sf_dir):
    """Small-file compaction (functions/scale.py compact_small_files):
    the customer table exploded into 64 tiny files, compacted back to
    ~target-size files with an atomic directory swap, read back and
    compared against the source — proving the maintenance pass is
    content-preserving.  The compaction itself is coalesce (no
    shuffle); file-count assertions live in tests/test_scale.py."""
    from aws_etl_bank_spark.functions.scale import compact_small_files

    path = _scratch(sf_dir, "cust_small_files")
    src = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey")
    src.repartition(64).write.mode("overwrite").parquet(path)
    compact_small_files(spark, path, target_file_bytes=64 * 1024 * 1024)
    return spark.read.parquet(path)


@q("scale_skew_report", """
WITH c AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
           FROM events GROUP BY event_type),
t AS (SELECT SUM(n) AS tot FROM c)
SELECT event_type, n, ROUND(n / (SELECT tot FROM t), 6) AS share,
       CAST(ROW_NUMBER() OVER (ORDER BY n DESC, event_type) AS INT) AS rank
FROM c ORDER BY n DESC, event_type LIMIT 5""")
def scale_skew_report(spark, sf_dir):
    """Skew diagnostics (functions/scale.py skew_report): the heaviest
    key values with row share and rank from ONE aggregated pass — the
    measurement that picks between plain AQE, salted_agg and
    salted_join before a straggler burns an hour at 100 TB.  The
    row_number+filter compiles to a window group limit, so the rank cut
    happens before rows concentrate."""
    from aws_etl_bank_spark.functions.scale import skew_report

    ev = load_table(spark, sf_dir, "events")
    return skew_report(ev, "event_type", top=5)


@q("ts_trend_slope", """
SELECT user_id,
       ROUND(regr_slope(value, floor(epoch(ts))), 6) + 0 AS slope,
       ROUND(corr(value, floor(epoch(ts))), 4) + 0 AS r,
       CAST(COUNT(*) AS BIGINT) AS n
FROM events GROUP BY user_id HAVING COUNT(*) >= 50""")
def ts_trend_slope(spark, sf_dir):
    """Per-key linear trend (least-squares slope of value over time) +
    correlation — drift/trend detection as ONE hash aggregation: Spark's
    regr_slope/corr aggregates are mergeable partials (sums of x, y, xy,
    x², count), so the whole fit shuffles a constant per key no matter
    how many points feed it.  No window, no sort, no Python.  The time
    axis is floored to whole seconds on BOTH sides (Spark's
    unix_timestamp truncates; DuckDB's epoch keeps fractions — without
    the floor the regression inputs silently differ sub-second).  Both
    rounded columns add ``+ 0`` on BOTH engines: a slope that rounds to
    zero can carry IEEE ``-0.0`` in one engine and ``+0.0`` in the other
    (bit patterns differ, bitwise value-hash mismatches — the r5 driver
    failure); ``x + 0.0`` canonicalizes either zero to ``+0.0``."""
    ev = load_table(spark, sf_dir, "events")
    x = F.unix_timestamp("ts").cast("double")
    return (
        ev.groupBy("user_id")
        .agg((F.round(F.regr_slope(F.col("value"), x), 6)
              + F.lit(0.0)).alias("slope"),
             (F.round(F.corr(F.col("value"), x), 4)
              + F.lit(0.0)).alias("r"),
             F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= 50)
    )


@q("tpch_q7_volume_shipping", """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(EXTRACT(YEAR FROM l.l_shipdate) AS INT) AS l_year,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                * (CAST(1.00 AS DECIMAL(4,2)) - CAST(l.l_discount AS DECIMAL(4,2))))
            AS DOUBLE) AS revenue
FROM supplier s
JOIN lineitem l ON s.s_suppkey = l.l_suppkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
WHERE ((n1.n_name = 'NATION_9' AND n2.n_name = 'NATION_10')
    OR (n1.n_name = 'NATION_10' AND n2.n_name = 'NATION_9'))
  AND l.l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
GROUP BY n1.n_name, n2.n_name, EXTRACT(YEAR FROM l.l_shipdate)""")
def tpch_q7_volume_shipping(spark, sf_dir):
    """TPC-H Q7 (volume shipping between two nations): the
    disjunctive cross-nation predicate (the testdata's synthetic
    NATION_9/NATION_10 in place of the spec's FRANCE/GERMANY) over two
    aliases of the SAME dim
    — both nation sides broadcast, the pair filter applies after the
    chain, and only orders⋈lineitem is shuffle-sized.  Ship-year comes
    from the pushed-down shipdate range."""
    s = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate").between("1996-01-01", "1997-12-31 00:00:00"))
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nk1"), F.col("n_name").alias("supp_nation"))
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nk2"), F.col("n_name").alias("cust_nation"))
    pair = (((F.col("supp_nation") == "NATION_9") & (F.col("cust_nation") == "NATION_10"))
            | ((F.col("supp_nation") == "NATION_10") & (F.col("cust_nation") == "NATION_9")))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), s.s_nationkey == F.col("nk1"))
        .join(F.broadcast(n2), c.c_nationkey == F.col("nk2"))
        .where(pair)
        .groupBy("supp_nation", "cust_nation",
                 F.year("l_shipdate").alias("l_year"))
        .agg(F.sum(_rev_dec()).cast("double").alias("revenue"))
    )


@q("tpch_q10_returned_items", """
SELECT c.c_custkey, c.c_name,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                * (CAST(1.00 AS DECIMAL(4,2)) - CAST(l.l_discount AS DECIMAL(4,2))))
            AS DOUBLE) AS revenue,
       ROUND(c.c_acctbal, 2) AS c_acctbal, n.n_name
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE l.l_returnflag = 'R'
  AND o.o_orderdate >= TIMESTAMP '1996-10-01'
  AND o.o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
ORDER BY revenue DESC, c.c_custkey LIMIT 20""")
def tpch_q10_returned_items(spark, sf_dir):
    """TPC-H Q10 (returned-item reporting): quarter of orders ⋈ returned
    lines ⋈ customer dim, top-20 customers by lost revenue.  The
    returnflag and date predicates push to the two fact scans;
    ORDER BY+LIMIT compiles to TakeOrderedAndProject.  The c_custkey
    tiebreak makes the cut deterministic for the oracle."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp")))
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum(_rev_dec()).cast("double").alias("revenue"))
        .select("c_custkey", "c_name", "revenue",
                F.round("c_acctbal", 2).alias("c_acctbal"), "n_name")
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@q("tpch_q4_order_priority", """
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1996-07-01'
  AND o.o_orderdate < TIMESTAMP '1996-10-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate)
GROUP BY o_orderpriority""")
def tpch_q4_order_priority(spark, sf_dir):
    """TPC-H Q4 (order-priority checking): EXISTS over a correlated
    line-level condition — expressed as a LEFT-SEMI join of the filtered
    quarter of orders against late-shipping lines, then a 5-group
    count.  The semi join deduplicates BEFORE the aggregate, so no
    order is counted per matching line."""
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp")))
    li = load_table(spark, sf_dir, "lineitem")
    return (
        o.join(li, (o.o_orderkey == li.l_orderkey)
               & (li.l_shipdate > o.o_orderdate), "leftsemi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@q("tpch_q6_forecast_revenue", """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24""")
def tpch_q6_forecast_revenue(spark, sf_dir):
    """TPC-H Q6 (forecasting revenue change): the purest predicate-
    pushdown benchmark — three ANDed scan filters, one global sum, zero
    joins; at 100 TB the whole query is whatever fraction of row groups
    the parquet min/max stats cannot skip."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where((F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
                 & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
                 & F.col("l_discount").between(0.05, 0.07)
                 & (F.col("l_quantity") < 24))
        .agg(F.sum(F.col("l_extendedprice").cast("decimal(18,2)")
                   * F.col("l_discount").cast("decimal(4,2)"))
             .cast("double").alias("revenue"))
    )


@q("tpch_q13_customer_distribution", """
WITH co AS (
  SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
  FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
  GROUP BY c.c_custkey
)
SELECT CAST(c_count AS BIGINT) AS c_count,
       CAST(COUNT(*) AS BIGINT) AS custdist
FROM co GROUP BY c_count""")
def tpch_q13_customer_distribution(spark, sf_dir):
    """TPC-H Q13 (customer order distribution): LEFT OUTER join so
    zero-order customers survive with count 0, then the
    histogram-of-counts double aggregation.  COUNT(o_orderkey) — not
    COUNT(*) — is what makes the outer join's null rows count as zero."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy(c.c_custkey)
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


@q("tpch_q14_promo_revenue", """
SELECT ROUND(100.0 * CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                                  THEN CAST(l.l_extendedprice AS DECIMAL(18,2))
                                       * (CAST(1.00 AS DECIMAL(4,2))
                                          - CAST(l.l_discount AS DECIMAL(4,2))) END)
                         AS DOUBLE)
             / CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                        * (CAST(1.00 AS DECIMAL(4,2))
                           - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE),
             4) AS promo_pct
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '1996-09-01'
  AND l.l_shipdate < TIMESTAMP '1996-10-01'""")
def tpch_q14_promo_revenue(spark, sf_dir):
    """TPC-H Q14 (promotion effect): conditional-ratio aggregate over a
    month of lines broadcast-joined to the part dim (the testdata's
    categorical p_type = 'PROMO' in place of the spec's LIKE 'PROMO%').
    One scan, one broadcast, one agg row."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-10-01").cast("timestamp")))
    p = load_table(spark, sf_dir, "part")
    rev = _rev_dec()
    promo = F.when(F.col("p_type") == "PROMO", rev)
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(F.round(100.0 * F.sum(promo).cast("double")
                     / F.sum(rev).cast("double"), 4).alias("promo_pct"))
    )


@q("tpch_q8_market_share", """
SELECT CAST(EXTRACT(YEAR FROM o.o_orderdate) AS INT) AS o_year,
       ROUND(CAST(SUM(CASE WHEN n2.n_name = 'NATION_9'
                           THEN CAST(l.l_extendedprice AS DECIMAL(18,2))
                                * (CAST(1.00 AS DECIMAL(4,2))
                                   - CAST(l.l_discount AS DECIMAL(4,2))) END)
                  AS DOUBLE)
             / CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                        * (CAST(1.00 AS DECIMAL(4,2))
                           - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE),
             6) AS mkt_share
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
JOIN region r ON n1.n_regionkey = r.r_regionkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
JOIN part p ON l.l_partkey = p.p_partkey
WHERE r.r_name = 'ASIA' AND p.p_type = 'ECONOMY'
  AND o.o_orderdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
GROUP BY EXTRACT(YEAR FROM o.o_orderdate)""")
def tpch_q8_market_share(spark, sf_dir):
    """TPC-H Q8 (national market share): the deepest TPC-H join tree
    expressible on this schema — 8 tables, nation joined TWICE (customer
    region gate vs supplier nationality), share computed as a
    conditional-ratio aggregate per order year.  Every dim broadcasts;
    lineitem⋈orders is the only shuffle pair."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate").between("1996-01-01", "1997-12-31 00:00:00"))
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    p = load_table(spark, sf_dir, "part").where(F.col("p_type") == "ECONOMY")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nk1"), F.col("n_regionkey").alias("rk1"))
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nk2"), F.col("n_name").alias("supp_nation"))
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    rev = _rev_dec()
    target = F.when(F.col("supp_nation") == "NATION_9", rev)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), c.c_nationkey == F.col("nk1"))
        .join(F.broadcast(r), F.col("rk1") == r.r_regionkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n2), s.s_nationkey == F.col("nk2"))
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(F.round(F.sum(target).cast("double")
                     / F.sum(rev).cast("double"), 6).alias("mkt_share"))
    )


@q("tpch_q15_top_supplier", """
WITH rev AS (
  SELECT l_suppkey AS supplier_no,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                  * (CAST(1.00 AS DECIMAL(4,2))
                     - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name, r.total_revenue
FROM supplier s JOIN rev r ON s.s_suppkey = r.supplier_no
WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM rev)""")
def tpch_q15_top_supplier(spark, sf_dir):
    """TPC-H Q15 (top supplier): the revenue "view" joined against its
    own 1-row max aggregate (broadcast) — the decorrelated scalar-
    subquery form.  Spark recomputes the shared rev subtree on both
    sides (2 lineitem scans in the executed plan; column pruning makes
    the subtrees differ, defeating ReuseExchange).  Kept DELIBERATELY
    over the single-scan alternative — a global (partitionBy-less)
    window max — because that funnels the entire supplier-grain rollup
    through ONE task at 100 TB, whereas the second scan is pruned to 3
    columns, date-filtered, and fully parallel."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp")))
    s = load_table(spark, sf_dir, "supplier")
    rev = (li.groupBy(F.col("l_suppkey").alias("supplier_no"))
           .agg(F.sum(_rev_dec()).cast("double").alias("total_revenue")))
    mx = rev.agg(F.max("total_revenue").alias("__mx"))
    return (
        rev.join(F.broadcast(mx), rev.total_revenue == F.col("__mx"))
        .join(F.broadcast(s), F.col("supplier_no") == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


@q("tpch_q17_small_quantity", """
SELECT ROUND(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0, 2)
       AS avg_yearly
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
JOIN (SELECT l_partkey, 0.2 * AVG(l_quantity) AS qty_cut
      FROM lineitem GROUP BY l_partkey) a ON a.l_partkey = l.l_partkey
WHERE p.p_brand = (SELECT MIN(p_brand) FROM part)
  AND l.l_quantity < a.qty_cut""")
def tpch_q17_small_quantity(spark, sf_dir):
    """TPC-H Q17 (small-quantity-order revenue): the brand slice is
    broadcast-semi-filtered onto the fact FIRST, then the correlated
    per-part AVG cut is a WINDOW over the surviving rows — every
    lineitem of a brand part survives the filter, so the window avg
    equals the whole-table per-part avg.  The earlier
    aggregate-plus-join-back form scanned lineitem twice AND broadcast
    a cuts frame keyed by ALL parts — part-count sized, which does not
    broadcast at 100 TB; the window form scans once and shuffles only
    the brand slice (|parts|/|brands| of the fact).  Brand chosen as
    MIN(p_brand) to stay fixture-agnostic."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    brand = p.agg(F.min("p_brand").alias("__b"))
    pb = (p.join(F.broadcast(brand), p.p_brand == F.col("__b"))
          .select("p_partkey"))
    cut_w = (0.2 * F.avg("l_quantity").over(Window.partitionBy("l_partkey")))
    return (
        li.join(F.broadcast(pb), li.l_partkey == pb.p_partkey, "left_semi")
        .withColumn("qty_cut", cut_w)
        .where(F.col("l_quantity") < F.col("qty_cut"))
        .agg(F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
                     .cast("double") / 7.0, 2).alias("avg_yearly"))
    )


@q("ts_rollup_incremental_merge", """
SELECT event_type,
       CAST(FLOOR(EXTRACT(EPOCH FROM ts) / 86400) * 86400 AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n, ROUND(SUM(value), 2) AS total
FROM events GROUP BY 1, 2""")
def ts_rollup_incremental_merge(spark, sf_dir):
    """Materialized-rollup incremental refresh (functions/timeseries.py
    merge_rollup): history and the "new" tail are aggregated separately
    (as a stored rollup and a delta would be), then combined by their
    decomposable aggregates — count as sum, sum as sum — and the result
    must equal the full recompute, which is exactly what the oracle
    runs.  O(|rollup| + |delta|) per refresh instead of O(|history|)."""
    from aws_etl_bank_spark.functions.timeseries import (merge_rollup,
                                                         rollup_time_bucket)

    ev = load_table(spark, sf_dir, "events")
    cutoff = "1997-01-01"
    aggs = [F.count(F.lit(1)).alias("n"), F.sum("value").alias("total")]
    hist = rollup_time_bucket(
        ev.where(F.col("ts") < cutoff), "ts", 86400, ["event_type"], aggs)
    delta = rollup_time_bucket(
        ev.where(F.col("ts") >= cutoff), "ts", 86400, ["event_type"], aggs)
    merged = merge_rollup(hist, delta, ["event_type", "bucket"],
                          {"n": "sum", "total": "sum"})
    return merged.select("event_type", F.col("bucket").cast("long"),
                         F.col("n").cast("long").alias("n"),
                         F.round("total", 2).alias("total"))


@q("scale_bucketed_join", """
SELECT o.o_orderkey, o.o_custkey, c.c_name,
       ROUND(o.o_totalprice, 2) AS total
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
WHERE o.o_orderkey % 4 = 0""")
def scale_bucketed_join(spark, sf_dir):
    """Bucketed co-located join (functions/scale.py write_bucketed /
    read_bucketed): both sides persisted bucketed on the join key, so
    the recurring join needs NO exchange on either side — the shuffle
    is paid once at write time (tests/test_scale.py asserts the
    exchange-free plan).  Result must equal the plain join, which is
    what the oracle runs.  Table names carry the sf tag so concurrent
    gates at different SFs do not collide."""
    from aws_etl_bank_spark.functions.scale import (
        read_bucketed, reset_and_write_bucketed, sf_table_tag)

    tag = sf_table_tag(sf_dir)
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderkey") % 4 == 0)
    c = load_table(spark, sf_dir, "customer")
    reset_and_write_bucketed(spark,
                             o.select("o_orderkey", "o_custkey",
                                      "o_totalprice"),
                             f"bkt_orders_{tag}", "o_custkey", 8)
    reset_and_write_bucketed(spark, c.select("c_custkey", "c_name"),
                             f"bkt_customer_{tag}", "c_custkey", 8)
    ob = read_bucketed(spark, f"bkt_orders_{tag}")
    cb = read_bucketed(spark, f"bkt_customer_{tag}")
    return (ob.join(cb, ob.o_custkey == cb.c_custkey)
            .select("o_orderkey", "o_custkey", "c_name",
                    F.round("o_totalprice", 2).alias("total")))


@q("win_rank_family_by_user", """
SELECT user_id, event_id,
       CAST(rank()       OVER w AS BIGINT) AS rnk,
       CAST(dense_rank() OVER w AS BIGINT) AS drnk,
       ROUND(percent_rank() OVER w, 6) AS prnk,
       ROUND(cume_dist()    OVER w, 6) AS cdist,
       CAST(ntile(4) OVER w AS INT) AS quartile
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY value, event_id)""")
def win_rank_family_by_user(spark, sf_dir):
    """The complete rank family per key — rank, dense_rank,
    percent_rank, cume_dist, ntile — in ONE window pass (all five share
    the same (user, value-order) windowspec, so Spark plans one sort +
    one Window node).  Keyed partitions → fully parallel; the tie-break
    on event_id makes every function's output deterministic, which is
    what lets the oracle hash-match rather than rows-only."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("value", "event_id")
    return ev.select(
        "user_id", "event_id",
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
        F.round(F.percent_rank().over(w), 6).alias("prnk"),
        F.round(F.cume_dist().over(w), 6).alias("cdist"),
        F.ntile(4).over(w).alias("quartile"),
    )


@q("win_first_last_nth", """
SELECT DISTINCT user_id,
       first_value(event_type) OVER w AS first_ev,
       last_value(event_type) OVER w AS last_ev,
       nth_value(event_type, 3) OVER w AS third_ev
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""")
def win_first_last_nth(spark, sf_dir):
    """first_value / last_value / nth_value over a whole-partition frame
    (the default RANGE-to-current frame makes last_value useless — the
    classic window gotcha; the explicit unbounded ROWS frame is the
    correct form).  (ts, event_id) ordering makes the positional picks
    deterministic; DISTINCT collapses to one row per user."""
    ev = load_table(spark, sf_dir, "events")
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
    return (
        ev.select("user_id",
                  F.first("event_type").over(w).alias("first_ev"),
                  F.last("event_type").over(w).alias("last_ev"),
                  F.nth_value("event_type", 3).over(w).alias("third_ev"))
        .distinct()
    )


@q("scalar_string_suite", """
SELECT c_custkey,
       split_part(c_name, '#', 2) AS cust_num,
       translate(c_mktsegment, 'AEIOU', 'aeiou') AS seg_lower_vowels,
       CAST(levenshtein(c_mktsegment, 'BUILDING') AS INT) AS seg_dist,
       lpad(CAST(c_nationkey AS VARCHAR), 4, '0') AS nat_pad,
       repeat('*', CAST(c_nationkey AS INT) % 4) AS stars,
       regexp_extract(c_name, '([0-9]+)$', 1) AS trailing_digits
FROM customer""")
def scalar_string_suite(spark, sf_dir):
    """String-function breadth in one projection: split_part, translate,
    levenshtein, lpad, repeat, regexp_extract — all JVM expressions with
    exact DuckDB twins, all inside one whole-stage-codegen'd map."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.split_part(F.col("c_name"), F.lit("#"), F.lit(2)).alias("cust_num"),
        F.translate("c_mktsegment", "AEIOU", "aeiou").alias("seg_lower_vowels"),
        F.levenshtein("c_mktsegment", F.lit("BUILDING")).cast("int").alias("seg_dist"),
        F.lpad(F.col("c_nationkey").cast("string"), 4, "0").alias("nat_pad"),
        F.repeat(F.lit("*"), (F.col("c_nationkey") % 4).cast("int")).alias("stars"),
        F.regexp_extract("c_name", r"([0-9]+)$", 1).alias("trailing_digits"),
    )


@q("scalar_hof_suite", r"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'),
                     x -> x <> '') AS toks
  FROM documents)
SELECT doc_id,
       CAST(len(list_filter(toks, x -> length(x) > 5)) AS INT) AS n_long,
       COALESCE(CAST(list_aggregate(list_transform(toks,
                     x -> length(x)), 'sum') AS BIGINT), 0) AS total_chars,
       len(list_filter(toks, x -> regexp_matches(x, '[0-9]'))) > 0
         AS has_digit,
       len(list_filter(toks, x -> length(x) >= 30)) = 0 AS all_short,
       array_to_string(list_transform(toks[1:3], x -> upper(x)), ',')
         AS first3_upper,
       array_to_string(list_transform(toks[1:2],
                       x -> concat(x, '#', length(x))), ',') AS len_tagged
FROM t""")
def scalar_hof_suite(spark, sf_dir):
    """Higher-order array functions in one projection (§2.8 depth):
    ``filter``, ``transform``, ``aggregate`` (fold), ``exists``,
    ``forall``, ``slice`` and ``zip_with`` over the tokenized document
    corpus — every lambda runs INSIDE the JVM expression engine (no
    Python, no explode/re-group shuffle: the per-row array never leaves
    its row, which is the whole point of HOFs at 100 TB vs the
    explode→groupBy rewrite).  Array outputs are array_join-serialized
    (driver canon).  The oracle recomputes each lambda with DuckDB's
    list_* twins; zip_with's token#length tagging is recomputed as a
    single list_transform there — same values, proving the zipped form.
    Empty token lists agree by construction (fold seed 0 vs
    COALESCE'd list_aggregate; exists=false, forall=true on empty)."""
    toks = F.filter(F.split(F.lower(F.col("text")), r"\s+"),
                    lambda x: x != F.lit(""))
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.filter(toks, lambda x: F.length(x) > 5)).alias("n_long"),
        F.aggregate(toks, F.lit(0).cast("long"),
                    lambda acc, x: acc + F.length(x)).alias("total_chars"),
        F.exists(toks, lambda x: x.rlike("[0-9]")).alias("has_digit"),
        F.forall(toks, lambda x: F.length(x) < 30).alias("all_short"),
        F.array_join(F.transform(F.slice(toks, 1, 3), F.upper), ",")
        .alias("first3_upper"),
        F.array_join(
            F.slice(F.zip_with(toks, F.transform(toks, F.length),
                               lambda t, n: F.concat(t, F.lit("#"),
                                                     n.cast("string"))),
                    1, 2), ",").alias("len_tagged"),
    )


@q("scalar_json_suite", """
WITH j AS (
  SELECT o_orderkey,
         '{"status":"' || o_orderstatus || '","price":' ||
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) ||
         ',"tags":["a","b"]}' AS doc
  FROM orders
)
SELECT o_orderkey,
       json_extract_string(doc, '$.status') AS status,
       CAST(json_extract(doc, '$.price') AS DOUBLE) AS price,
       json_extract_string(doc, '$.tags[1]') AS second_tag
FROM j""")
def scalar_json_suite(spark, sf_dir):
    """JSON path extraction parity: a JSON document built from columns,
    fields pulled back out with get_json_object (string + numeric +
    array index paths).  Prices render through DECIMAL(18,2) so the
    document text is identical on both engines.  Stays a map-only
    projection — at 100 TB, extracting two fields from a JSON column
    must not deserialize the whole document into a struct first."""
    o = load_table(spark, sf_dir, "orders")
    doc = F.concat(
        F.lit('{"status":"'), F.col("o_orderstatus"), F.lit('","price":'),
        F.col("o_totalprice").cast("decimal(18,2)").cast("string"),
        F.lit(',"tags":["a","b"]}'))
    j = o.select("o_orderkey", doc.alias("doc"))
    return j.select(
        "o_orderkey",
        F.get_json_object("doc", "$.status").alias("status"),
        F.get_json_object("doc", "$.price").cast("double").alias("price"),
        F.get_json_object("doc", "$.tags[1]").alias("second_tag"),
    )


@q("scalar_datetime_suite", """
SELECT o_orderkey,
       CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
       CAST(last_day(CAST(o_orderdate AS DATE)) AS DATE) AS month_end,
       CAST(o_orderdate + INTERVAL 3 MONTH AS TIMESTAMP) AS plus3m,
       CAST(date_diff('day', TIMESTAMP '1995-01-01', o_orderdate) AS INT)
         AS days_since_epoch_start,
       CAST(dayofweek(CAST(o_orderdate AS DATE)) + 1 AS INT) AS dow
FROM orders""")
def scalar_datetime_suite(spark, sf_dir):
    """Datetime-function breadth: date_trunc, last_day, add_months,
    datediff, dayofweek in one map-only projection.  Cross-engine
    notes are part of the point: DuckDB's dayofweek is 0=Sunday where
    Spark's is 1=Sunday (the oracle adds 1), and month addition is
    add_months vs + INTERVAL — same clamping semantics on
    month-end dates."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.date_trunc("month", "o_orderdate").alias("month_start"),
        F.last_day(F.col("o_orderdate").cast("date")).alias("month_end"),
        F.add_months("o_orderdate", 3).cast("timestamp").alias("plus3m"),
        F.datediff(F.col("o_orderdate").cast("date"),
                   F.lit("1995-01-01").cast("date")).cast("int")
        .alias("days_since_epoch_start"),
        F.dayofweek(F.col("o_orderdate").cast("date")).cast("int").alias("dow"),
    )


@q("join_null_safe_equality", """
WITH l AS (SELECT c_custkey,
                  CASE WHEN c_custkey % 5 = 0 THEN NULL ELSE c_nationkey END AS k
           FROM customer),
r AS (SELECT DISTINCT CASE WHEN n_nationkey % 7 = 0 THEN NULL
                           ELSE n_nationkey END AS k
      FROM nation)
SELECT l.c_custkey, CAST(l.k AS INT) AS k
FROM l JOIN r ON l.k IS NOT DISTINCT FROM r.k""")
def join_null_safe_equality(spark, sf_dir):
    """Null-safe equality join (<=> / IS NOT DISTINCT FROM): NULL keys
    MATCH each other instead of vanishing — three-valued-logic parity
    that plain equi-joins silently get wrong.  Still a hash join in the
    plan (null-safe equality is a valid equi-key), not a filterless
    nested loop."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    left = c.select("c_custkey", F.when(
        F.col("c_custkey") % 5 == 0, F.lit(None)).otherwise(
        F.col("c_nationkey")).alias("k"))
    right = n.select(F.when(F.col("n_nationkey") % 7 == 0, F.lit(None))
                     .otherwise(F.col("n_nationkey")).alias("k")).distinct()
    return (left.join(right, left.k.eqNullSafe(right.k))
            .select("c_custkey", left.k.cast("int").alias("k")))


@q("ts_moving_median", """
SELECT event_id, user_id,
       ROUND(quantile_cont(value, 0.5) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN 100 PRECEDING AND CURRENT ROW), 6) AS med100
FROM events WHERE user_id < 50""")
def ts_moving_median(spark, sf_dir):
    """Moving median per key (trailing 101-row window): the robust
    rolling statistic that mean-based smoothing can't give you — one
    sorted window pass, Spark's interpolated percentile as a window
    aggregate = DuckDB's quantile_cont.  Exact windowed percentile
    keeps the frame's values in the window buffer; at 100 TB prefer the
    hot-key-split helper (operators/windows.py) for skewed keys and
    approx_percentile for wide frames."""
    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") < 50)
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(-100, Window.currentRow))
    return ev.select(
        "event_id", "user_id",
        F.round(F.percentile("value", 0.5).over(w), 6).alias("med100"))


@q("ts_ewma_smoothing", """
WITH l AS (
  SELECT event_id, user_id,
         list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS vals
  FROM events WHERE user_id < 50
)
SELECT event_id, user_id,
       ROUND(list_dot_product(vals,
               list_transform(range(1, len(vals) + 1),
                              i -> pow(0.8, len(vals) - i)))
             / list_sum(list_transform(range(1, len(vals) + 1),
                              i -> pow(0.8, len(vals) - i))), 6) AS ewma
FROM l""")
def ts_ewma_smoothing(spark, sf_dir):
    """Exponentially-weighted moving average over a trailing 20-row
    window, per key: the infinite-history EWMA recurrence is inherently
    sequential, but truncating at 20 rows (weight (1-α)^20 ≈ 1% at
    α=0.2) turns it into a PARALLEL window computation — collect the
    frame, dot it with the geometric weights, normalize.  One sorted
    window pass; the frame list is bounded (20 doubles), so state per
    row is constant.  The oracle computes the identical finite-window
    dot product with DuckDB list arithmetic."""
    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") < 50)
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(-19, Window.currentRow))
    vals = F.collect_list("value").over(w)
    m = F.size("vals")
    weights = F.transform(F.sequence(F.lit(1), m),
                          lambda i: F.pow(F.lit(0.8), (m - i).cast("double")))
    num = F.aggregate(F.zip_with(F.col("vals"), weights, lambda v, wt: v * wt),
                      F.lit(0.0), lambda a, x: a + x)
    den = F.aggregate(weights, F.lit(0.0), lambda a, x: a + x)
    return (ev.select("event_id", "user_id", vals.alias("vals"))
            .select("event_id", "user_id",
                    F.round(num / den, 6).alias("ewma")))


@q("fraud_benford_digits", """
WITH d AS (
  SELECT CAST(substr(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR), 1, 1)
              AS INT) AS digit
  FROM orders WHERE o_totalprice >= 1
)
SELECT digit, CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(COUNT(*) / (SELECT CAST(COUNT(*) AS DOUBLE) FROM d), 6) AS observed,
       ROUND(log10(1.0 + 1.0 / digit), 6) AS benford_expected
FROM d GROUP BY digit""")
def fraud_benford_digits(spark, sf_dir):
    """Benford's-law first-digit screen over transaction amounts — the
    classic fraud/fabrication tripwire (organic amounts follow
    P(d)=log10(1+1/d); invented ones usually don't).  One hash-agg plus
    a one-row total broadcast; amounts render through DECIMAL so the
    leading digit is extracted from identical text on both engines."""
    o = load_table(spark, sf_dir, "orders").where(F.col("o_totalprice") >= 1)
    d = o.select(F.substring(F.col("o_totalprice").cast("decimal(18,2)")
                             .cast("string"), 1, 1).cast("int").alias("digit"))
    total = d.agg(F.count(F.lit(1)).cast("double").alias("__t"))
    return (
        d.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
        .crossJoin(F.broadcast(total))
        .select("digit", "n",
                F.round(F.col("n") / F.col("__t"), 6).alias("observed"),
                F.round(F.log10(1.0 + 1.0 / F.col("digit")), 6)
                .alias("benford_expected"))
    )


@q("rfm_segmentation", """
WITH m AS (
  SELECT o_custkey,
         MAX(o_orderdate) AS last_order,
         CAST(COUNT(*) AS BIGINT) AS frequency,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS monetary
  FROM orders GROUP BY o_custkey
)
SELECT o_custkey,
       CAST(ntile(4) OVER (ORDER BY last_order DESC, o_custkey) AS INT) AS r,
       CAST(ntile(4) OVER (ORDER BY frequency DESC, o_custkey) AS INT) AS f,
       CAST(ntile(4) OVER (ORDER BY monetary DESC, o_custkey) AS INT) AS mq
FROM m""")
def rfm_segmentation(spark, sf_dir):
    """RFM customer segmentation (recency / frequency / monetary
    quartiles) — the banking-analytics staple, built to survive
    hundreds of millions of customers: one aggregation to the
    per-customer metric row, then each quartile assignment comes from
    ``bucketed_global_rank`` (histogram-cell offsets + per-cell
    row_number — functions/scale.py) + the exact ``ntile_from_rank``
    formula, so NO metric ever funnels through an unpartitioned
    ntile window (the r8 verdict's one flagged plan: three
    customer-sized single-task sorts).  o_custkey tiebreaks make every
    assignment deterministic and oracle-equal to SQL ntile(4); recency
    ranks on days-since-epoch (monotone in the date).  The monetary
    metric sums in DECIMAL per the money-exactness rule.  The metric
    frame persists across the rank passes; the verify harness's
    clearCache releases it."""
    from pyspark import StorageLevel

    from aws_etl_bank_spark.functions.scale import (bucketed_global_rank,
                                                    ntile_from_rank)

    o = load_table(spark, sf_dir, "orders")
    m = (o.groupBy("o_custkey")
         .agg(F.max("o_orderdate").alias("last_order"),
              F.count(F.lit(1)).alias("frequency"),
              F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
              .cast("double").alias("monetary"))
         ).persist(StorageLevel.MEMORY_AND_DISK)
    n = m.count()
    recency_days = F.datediff(
        F.col("last_order"), F.lit("1970-01-01").cast("date")).cast("long")
    t = bucketed_global_rank(m, recency_days, ["o_custkey"],
                             out_col="__rk_r", descending=True, cache=False)
    t = bucketed_global_rank(t, "frequency", ["o_custkey"],
                             out_col="__rk_f", descending=True)
    t = bucketed_global_rank(t, "monetary", ["o_custkey"],
                             out_col="__rk_m", descending=True)
    return t.select(
        "o_custkey",
        ntile_from_rank(F.col("__rk_r"), n, 4).alias("r"),
        ntile_from_rank(F.col("__rk_f"), n, 4).alias("f"),
        ntile_from_rank(F.col("__rk_m"), n, 4).alias("mq"))


@q("loan_amortization_schedule", """
WITH loans AS (
  SELECT o_orderkey AS loan_id,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS principal
  FROM orders WHERE o_orderkey % 100 = 0
),
sched AS (
  SELECT loan_id, principal, unnest(range(1, 13)) AS k FROM loans
)
SELECT loan_id, CAST(k AS INT) AS month,
       ROUND(principal * (pow(1.005, 12) - pow(1.005, k))
             / (pow(1.005, 12) - 1), 2) AS balance,
       ROUND(principal * 0.005 * pow(1.005, 12)
             / (pow(1.005, 12) - 1), 2) AS payment
FROM sched""")
def loan_amortization_schedule(spark, sf_dir):
    """12-month amortization schedule per loan at 0.5%/month — the
    banking calc done RIGHT for a cluster: the balance recurrence
    B_k = B_{k-1}(1+r) − pmt is sequential, but its closed form
    B_k = P·((1+r)^n − (1+r)^k)/((1+r)^n − 1) is a pure map expression,
    so the schedule is explode(12) + arithmetic — no window, no
    iteration, no state.  Identical pow() arithmetic on both engines;
    amounts enter through the decimal rendering rule."""
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderkey") % 100 == 0)
    loans = o.select(
        F.col("o_orderkey").alias("loan_id"),
        F.col("o_totalprice").cast("decimal(18,2)").cast("double").alias("principal"))
    r, n = 0.005, 12
    g = (1 + r) ** n
    sched = loans.select(
        "loan_id", "principal",
        F.explode(F.sequence(F.lit(1), F.lit(n))).alias("k"))
    gk = F.pow(F.lit(1 + r), F.col("k").cast("double"))
    return sched.select(
        "loan_id", F.col("k").cast("int").alias("month"),
        F.round(F.col("principal") * (F.lit(g) - gk) / F.lit(g - 1), 2)
        .alias("balance"),
        F.round(F.col("principal") * F.lit(r * g / (g - 1)), 2).alias("payment"))


@q("tpch_q12_late_shipment_priority", """
SELECT o.o_orderpriority,
       CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY o.o_orderpriority""")
def tpch_q12_late_shipment_priority(spark, sf_dir):
    """TPC-H Q12 adapted (the schema carries no l_shipmode/receiptdate,
    so lateness is ship > order + 90 days and the class column is the
    order priority): the conditional-count-by-class shape — one
    fact⋈fact join with both date predicates pushed down, CASE sums
    inside a single hash-agg."""
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp")))
    li = load_table(spark, sf_dir, "lineitem")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .where(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
        .groupBy("o_orderpriority")
        .agg(F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
             F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"))
    )


@q("tpch_q16_supplier_counts_by_part", """
SELECT p.p_brand, p.p_type, CAST(p.p_size AS INT) AS p_size,
       CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
FROM part p JOIN lineitem l ON p.p_partkey = l.l_partkey
WHERE p.p_brand <> 'BRAND_1' AND p.p_size IN (1, 4, 9, 16, 25, 36, 49)
GROUP BY p.p_brand, p.p_type, p.p_size""")
def tpch_q16_supplier_counts_by_part(spark, sf_dir):
    """TPC-H Q16 adapted (no partsupp table — lineitem is the
    part⋈supplier bridge): distinct-supplier counts per part attribute
    triple, the count-distinct-after-join shape with a NOT-equal dim
    filter and an IN-list pushed to the part scan."""
    p = load_table(spark, sf_dir, "part").where(
        (F.col("p_brand") != "BRAND_1")
        & F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49))
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", F.col("p_size").cast("int").alias("p_size"))
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


@q("tpch_q22_dormant_high_balance", """
WITH avg_bal AS (
  SELECT AVG(c_acctbal) AS a FROM customer WHERE c_acctbal > 0
)
SELECT c.c_nationkey,
       CAST(COUNT(*) AS BIGINT) AS numcust,
       CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
FROM customer c
WHERE c.c_acctbal > (SELECT a FROM avg_bal)
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY c.c_nationkey""")
def tpch_q22_dormant_high_balance(spark, sf_dir):
    """TPC-H Q22 adapted (no c_phone — grouped by nation instead of
    country code): above-average-balance customers with NO recent
    orders — a scalar-subquery threshold (one-row broadcast, the
    decorrelated form) composed with an anti-join, the
    sales-opportunity shape.  Balance totals in decimal per the
    money-exactness rule."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
    avg_bal = (c.where(F.col("c_acctbal") > 0)
               .agg(F.avg("c_acctbal").alias("__a")))
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("__a"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("numcust"),
             F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
             .cast("double").alias("totacctbal"))
    )


@q("tpch_q2_min_cost_supplier", """
WITH cost AS (
  SELECT l_partkey, l_suppkey,
         CAST(MIN(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS supply_cost
  FROM lineitem GROUP BY 1, 2
),
eligible AS (
  SELECT c.l_partkey, c.supply_cost, s.s_acctbal, s.s_name, n.n_name
  FROM cost c
  JOIN supplier s ON c.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  WHERE r.r_name = 'EUROPE'
),
best AS (SELECT l_partkey, MIN(supply_cost) AS min_cost FROM eligible GROUP BY 1)
SELECT e.s_acctbal, e.s_name, e.n_name, p.p_partkey, e.supply_cost
FROM eligible e
JOIN best b ON e.l_partkey = b.l_partkey AND e.supply_cost = b.min_cost
JOIN part p ON p.p_partkey = e.l_partkey
WHERE p.p_size = 15 AND p.p_type LIKE 'S%'""")
def tpch_q2_min_cost_supplier(spark, sf_dir):
    """TPC-H Q2 adapted (no partsupp table in this schema — supply cost
    derived as each supplier's minimum observed line price per part):
    the correlated MIN-subquery ("supplier whose cost equals the
    regional minimum for that part") evaluated as a WINDOW min over the
    per-(part,supplier) cost rollup — the aggregate-plus-join-back form
    re-scanned lineitem twice and sort-merge joined part-sized sides;
    the window form does one scan, one extra exchange by l_partkey,
    and groups bounded by suppliers-per-part.  Region / size / type
    filters prune the dims BEFORE the fact aggregate's output joins
    them.  Reference capability: the multi-dim lookup queries in
    glue-jobs/src (SURVEY.md §2.3)."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    p = load_table(spark, sf_dir, "part").where(
        (F.col("p_size") == 15) & F.col("p_type").like("S%"))
    cost = (li.groupBy("l_partkey", "l_suppkey")
            .agg(F.min(F.col("l_extendedprice").cast("decimal(18,2)"))
                 .cast("double").alias("supply_cost")))
    eligible = (
        cost.join(F.broadcast(s), cost.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("l_partkey", "supply_cost", "s_acctbal", "s_name", "n_name"))
    min_w = F.min("supply_cost").over(Window.partitionBy("l_partkey"))
    return (
        eligible.withColumn("__min_cost", min_w)
        .where(F.col("supply_cost") == F.col("__min_cost"))
        .join(F.broadcast(p), F.col("l_partkey") == p.p_partkey)
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "supply_cost")
    )


@q("tpch_q9_product_type_profit", """
SELECT n.n_name AS nation, CAST(YEAR(o.o_orderdate) AS INTEGER) AS o_year,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                * (CAST(1.00 AS DECIMAL(4,2)) - CAST(l.l_discount AS DECIMAL(4,2)))
              - CAST(0.80 AS DECIMAL(3,2))
                * (CAST(p.p_retailprice AS DECIMAL(12,2))
                   * CAST(l.l_quantity AS DECIMAL(4,0)))) AS DOUBLE)
       AS sum_profit
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
WHERE p.p_name LIKE '%red%'
GROUP BY 1, 2""")
def tpch_q9_product_type_profit(spark, sf_dir):
    """TPC-H Q9 adapted (no ps_supplycost — cost modeled as 80% of
    p_retailprice per unit): profit by supplier nation × order year
    over a 5-table join with a substring filter on part name.  All
    decimal arithmetic is EXACT (scale-4 revenue minus scale-4 cost;
    see _rev_dec) so the cross-engine sum is bit-identical before the
    final double cast — no ROUND, whose HALF_UP-vs-HALF_EVEN split on
    .xx5 sums was observed at sf1.  part/supplier/nation broadcast;
    the only shuffle join is lineitem⋈orders on orderkey."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    p = load_table(spark, sf_dir, "part").where(F.col("p_name").like("%red%"))
    profit = (
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1.00).cast("decimal(4,2)") - F.col("l_discount").cast("decimal(4,2)"))
        - F.lit(0.80).cast("decimal(3,2)")
        * (F.col("p_retailprice").cast("decimal(12,2)")
           * F.col("l_quantity").cast("decimal(4,0)")))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(F.col("n_name").alias("nation"),
                 F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(F.sum(profit).cast("double").alias("sum_profit"))
    )


@q("tpch_q11_important_stock", """
WITH nat AS (SELECT n_nationkey FROM nation
             WHERE n_name = (SELECT MIN(n_name) FROM nation)),
val AS (
  SELECT l.l_partkey, SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS v
  FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nat ON s.s_nationkey = nat.n_nationkey
  GROUP BY 1
)
SELECT l_partkey AS p_partkey, CAST(v AS DOUBLE) AS part_value
FROM val WHERE v > (SELECT SUM(v) * 0.001 FROM val)""")
def tpch_q11_important_stock(spark, sf_dir):
    """TPC-H Q11 adapted (no partsupp — part "value" held by one
    nation's suppliers is the decimal sum of their line prices): the
    HAVING-against-global-scalar-subquery shape.  The per-part value
    frame is computed ONCE and reused for both the threshold (one-row
    aggregate, broadcast crossJoin — the decorrelated form) and the
    filter, mirroring Q15's view-reuse pattern.  Nation chosen as
    MIN(n_name) to stay fixture-agnostic."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    nat = (n.join(F.broadcast(n.agg(F.min("n_name").alias("__mn"))),
                  F.col("n_name") == F.col("__mn"))
           .select("n_nationkey"))
    val = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(nat), s.s_nationkey == nat.n_nationkey)
        .groupBy("l_partkey")
        .agg(F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("v")))
    thresh = val.agg((F.sum("v") * F.lit(0.001).cast("decimal(4,3)"))
                     .alias("__t"))
    return (
        val.crossJoin(F.broadcast(thresh))
        .where(F.col("v") > F.col("__t"))
        .select(F.col("l_partkey").alias("p_partkey"),
                F.col("v").cast("double").alias("part_value"))
    )


@q("tpch_q19_disjunctive_revenue", """
SELECT ROUND(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
             * (CAST(1.00 AS DECIMAL(4,2)) - CAST(l.l_discount AS DECIMAL(4,2))))
             AS DOUBLE), 2) AS revenue
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
       AND l.l_quantity BETWEEN 1 AND 11 AND p.p_type IN ('SMALL','MEDIUM'))
   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
       AND l.l_quantity BETWEEN 10 AND 20 AND p.p_type IN ('ECONOMY','STANDARD'))
   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity BETWEEN 20 AND 30 AND p.p_type IN ('PROMO','LARGE'))""")
def tpch_q19_disjunctive_revenue(spark, sf_dir):
    """TPC-H Q19 adapted (p_type stands in for the missing
    p_container): the OR-of-ANDs join predicate mixing build-side
    (brand/size/type) and probe-side (quantity) conditions.  The
    brand disjunction is pushed to the part scan as a derived
    single-table filter (brand IN (...)) — the classic Q19
    optimization — while the full disjunct evaluates after the
    broadcast join; only the 3-brand slice of part ships."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").where(
        F.col("p_brand").isin("Brand#12", "Brand#23", "Brand#3"))
    cond = (
        ((p.p_brand == "Brand#12") & F.col("p_size").between(1, 5)
         & F.col("l_quantity").between(1, 11)
         & F.col("p_type").isin("SMALL", "MEDIUM"))
        | ((p.p_brand == "Brand#23") & F.col("p_size").between(1, 10)
           & F.col("l_quantity").between(10, 20)
           & F.col("p_type").isin("ECONOMY", "STANDARD"))
        | ((p.p_brand == "Brand#3") & F.col("p_size").between(1, 15)
           & F.col("l_quantity").between(20, 30)
           & F.col("p_type").isin("PROMO", "LARGE")))
    return (
        li.join(F.broadcast(p), (li.l_partkey == p.p_partkey) & cond)
        .agg(F.round(F.sum(_rev_dec()).cast("double"), 2).alias("revenue"))
    )


@q("tpch_q20_potential_promotion", """
WITH nat AS (SELECT n_nationkey FROM nation
             WHERE n_name = (SELECT MIN(n_name) FROM nation)),
shipped AS (
  SELECT l_partkey, l_suppkey, SUM(l_quantity) AS qty
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1997-01-01'
  GROUP BY 1, 2
),
tot AS (SELECT l_partkey, SUM(qty) AS total_qty FROM shipped GROUP BY 1),
qual AS (
  SELECT DISTINCT sh.l_suppkey
  FROM shipped sh
  JOIN tot t ON sh.l_partkey = t.l_partkey
  JOIN part p ON p.p_partkey = sh.l_partkey AND p.p_name LIKE 'small%'
  WHERE sh.qty > 0.5 * t.total_qty
)
SELECT s.s_suppkey, s.s_name FROM supplier s
JOIN qual q ON s.s_suppkey = q.l_suppkey
JOIN nat ON s.s_nationkey = nat.n_nationkey""")
def tpch_q20_potential_promotion(spark, sf_dir):
    """TPC-H Q20 adapted (no ps_availqty — "excess stock" becomes a
    supplier who shipped more than half of a part's 1996 volume): the
    nested semi-join chain (supplier IN ... part IN ... correlated
    half-of-total subquery) flattened into ONE aggregate plus a window
    total over the same rows — the per-part total is a window sum over
    the per-(part,supplier) rollup, replacing a second aggregate and a
    part-sized sort-merge join with a single re-partition by l_partkey
    (group sizes bounded by suppliers-per-part, so no skew at 100 TB) —
    then a distinct semi-join up to suppliers of one nation."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp")))
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    p = load_table(spark, sf_dir, "part").where(F.col("p_name").like("small%"))
    nat = (n.join(F.broadcast(n.agg(F.min("n_name").alias("__mn"))),
                  F.col("n_name") == F.col("__mn"))
           .select("n_nationkey"))
    shipped = (li.groupBy("l_partkey", "l_suppkey")
               .agg(F.sum("l_quantity").alias("qty")))
    total_w = F.sum("qty").over(Window.partitionBy("l_partkey"))
    qual = (
        shipped.withColumn("total_qty", total_w)
        .join(F.broadcast(p), shipped.l_partkey == p.p_partkey)
        .where(F.col("qty") > 0.5 * F.col("total_qty"))
        .select("l_suppkey").distinct())
    return (
        # qual is supplier-count bounded (distinct suppkeys), so it
        # broadcasts at any SF even though its post-agg size is unknown
        # to the planner.
        s.join(F.broadcast(qual), s.s_suppkey == qual.l_suppkey, "left_semi")
        .join(F.broadcast(nat), F.col("s_nationkey") == nat.n_nationkey,
              "left_semi")
        .select("s_suppkey", "s_name")
    )


@q("tpch_q21_waiting_supplier", """
WITH lo AS (
  SELECT l.l_orderkey, l.l_suppkey,
         MAX(CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
                  THEN 1 ELSE 0 END) AS late
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
  WHERE o.o_orderstatus = 'F'
  GROUP BY 1, 2
),
om AS (SELECT l_orderkey, COUNT(*) AS n_supp, SUM(late) AS n_late
       FROM lo GROUP BY 1)
SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM lo JOIN om ON lo.l_orderkey = om.l_orderkey
JOIN supplier s ON s.s_suppkey = lo.l_suppkey
WHERE lo.late = 1 AND om.n_supp > 1 AND om.n_late = 1
GROUP BY 1""")
def tpch_q21_waiting_supplier(spark, sf_dir):
    """TPC-H Q21 adapted (no commit/receipt dates — "late" means
    shipped >90 days after the order date): suppliers who were the
    SOLE late shipper on a multi-supplier finalized order.  The spec's
    EXISTS / NOT-EXISTS self-join pair is rewritten as per-order WINDOW
    counts (supplier count, late-supplier count) over the per-(order,
    supplier) rollup — one re-partition by orderkey instead of two more
    fact-sized self-joins, the form that survives 100 TB (per-order
    groups are line-count bounded, so no skew).  Oracle mirrors the
    same rewrite, which is semantically identical to the spec's
    correlated form."""
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderstatus") == "F")
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    lo = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(
            F.when(F.col("l_shipdate")
                   > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"),
                   1).otherwise(0)).alias("late")))
    w = Window.partitionBy("l_orderkey")
    return (
        lo.withColumn("n_supp", F.count(F.lit(1)).over(w))
        .withColumn("n_late", F.sum("late").over(w))
        .where((F.col("late") == 1) & (F.col("n_supp") > 1)
               & (F.col("n_late") == 1))
        .join(F.broadcast(s), lo.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).cast("long").alias("numwait"))
    )


@q("scale_zorder_clustered_read", """
SELECT CAST(COUNT(*) AS BIGINT) AS n, ROUND(SUM(o_totalprice), 2) AS total,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_cust
FROM orders
WHERE o_custkey BETWEEN 100 AND 400 AND o_totalprice BETWEEN 1000 AND 5000""")
def scale_zorder_clustered_read(spark, sf_dir):
    """Z-order layout roundtrip (functions/scale.py
    write_zorder_clustered): orders re-laid-out on the interleaved
    (o_custkey, o_totalprice) key — per-file footer stats then prune on
    EITHER column (asserted file-by-file in tests/test_scale.py::
    test_zorder_roundtrip_and_2d_pruning, where 1-D range clustering
    hits 32/32 files on the second dimension and Z-order ≤16/32) — and
    a 2-D box predicate reads it back; values must match the
    unclustered oracle scan."""
    from aws_etl_bank_spark.functions.scale import write_zorder_clustered

    path = _scratch(sf_dir, "orders_zorder_clustered")
    write_zorder_clustered(
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice"),
        path, ["o_custkey", "o_totalprice"], bits=12, n_files=8)
    back = spark.read.parquet(path).filter(
        F.col("o_custkey").between(100, 400)
        & F.col("o_totalprice").between(1000, 5000))
    return back.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
        F.countDistinct("o_custkey").alias("n_cust"),
    )


@q("sketch_quantile_binned", """
WITH h AS (
  SELECT CAST(least(greatest(floor((value - 0.0) / 2.0), 0), 249) AS BIGINT) AS bin,
         COUNT(*) AS cnt
  FROM events WHERE value IS NOT NULL GROUP BY 1),
c AS (
  SELECT bin, cnt,
         SUM(cnt) OVER (ORDER BY bin) AS cum,
         SUM(cnt) OVER (ORDER BY bin) - cnt AS cum_before,
         SUM(cnt) OVER () AS n
  FROM h),
qs AS (SELECT CAST(unnest([0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99]) AS DOUBLE) AS q),
probe AS (
  SELECT q, CAST(floor(q * (n - 1)) AS BIGINT) + 1 AS r,
         bin, cnt, cum, cum_before
  FROM qs CROSS JOIN c)
SELECT q, r, bin,
       ROUND(0.0 + 2.0 * (bin + (r - cum_before) / CAST(cnt AS DOUBLE)), 6) AS est
FROM probe WHERE cum >= r AND cum_before < r""")
def sketch_quantile_binned(spark, sf_dir):
    """Binned-histogram quantile sketch (functions/scale.py
    quantile_sketch / quantile_estimate) — the rank member of the
    mergeable-sketch family (CMS: frequency, HLL: distinct, KMV: set
    overlap): 250 fixed bins over events.value, seven quantiles read
    off the cumulative histogram with within-bin linear interpolation.
    ONE hash aggregation with map-side combine builds it (≤ 250 rows
    out at ANY input size); per-day/per-partition histograms merge by
    summing bins — an exact percentile is a global sort every time.
    Error is bounded by the bin width (deterministic, unlike sampling).
    All arithmetic is integer + IEEE double in the same op order on
    both engines, so the oracle pins every estimate to 6 decimals;
    merge-equals-direct is pinned in tests/test_scale.py."""
    from aws_etl_bank_spark.functions.scale import (quantile_estimate,
                                                    quantile_sketch)

    ev = load_table(spark, sf_dir, "events")
    sk = quantile_sketch(ev, "value", 0.0, 500.0, n_bins=250)
    return quantile_estimate(
        sk, [0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99], 0.0, 500.0, n_bins=250)


_KMV_SQL_HASH = """(
  ((event_id % 1000003) * 7001 + 104729) % 1000003 *
   (((event_id % 1000003) * 7001 + 104729) % 1000003)
  + 1223 * (((event_id % 1000003) * 7001 + 104729) % 1000003)
  + 514229) % 1000003"""


@q("sketch_kmv_jaccard", f"""
WITH ha AS (SELECT DISTINCT {_KMV_SQL_HASH} AS h
            FROM events WHERE value < 300 ORDER BY h LIMIT 256),
     hb AS (SELECT DISTINCT {_KMV_SQL_HASH} AS h
            FROM events WHERE value BETWEEN 150 AND 450 ORDER BY h LIMIT 256),
     ea AS (SELECT COUNT(*) AS n_a_kept,
                   CASE WHEN COUNT(*) < 256 THEN CAST(COUNT(*) AS DOUBLE)
                        ELSE 255.0 * 1000003.0 / CAST(MAX(h) AS DOUBLE) END AS est_a
            FROM ha),
     eb AS (SELECT COUNT(*) AS n_b_kept,
                   CASE WHEN COUNT(*) < 256 THEN CAST(COUNT(*) AS DOUBLE)
                        ELSE 255.0 * 1000003.0 / CAST(MAX(h) AS DOUBLE) END AS est_b
            FROM hb),
     u AS (SELECT COALESCE(a.h, b.h) AS h,
                  CASE WHEN a.h IS NULL THEN 0 ELSE 1 END AS in_a,
                  CASE WHEN b.h IS NULL THEN 0 ELSE 1 END AS in_b
           FROM ha a FULL OUTER JOIN hb b ON a.h = b.h
           ORDER BY h LIMIT 256),
     j AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_union_sketch,
                  CAST(SUM(in_a * in_b) AS BIGINT) AS n_both,
                  ROUND(SUM(CAST(in_a * in_b AS DOUBLE)) / COUNT(*), 6) AS jaccard_est
           FROM u)
SELECT CAST(n_a_kept AS BIGINT) AS n_a_kept, ROUND(est_a, 4) AS est_a,
       CAST(n_b_kept AS BIGINT) AS n_b_kept, ROUND(est_b, 4) AS est_b,
       n_union_sketch, n_both, jaccard_est
FROM ea CROSS JOIN eb CROSS JOIN j""")
def sketch_kmv_jaccard(spark, sf_dir):
    """K-minimum-values sketch (functions/scale.py kmv_sketch /
    kmv_estimate / kmv_jaccard): bottom-256 hash values of two
    overlapping event-id sets (value < 300 vs value in [150, 450]) give
    BOTH cardinalities and their Jaccard similarity from ≤ 512 retained
    rows — the set-INTERSECTION estimate HLL cannot produce, and the
    100 TB way to ask "how much do these two crawls overlap" without
    ever joining the raw sets.  Build = distinct + TakeOrdered (never a
    global sort); sketches merge by union→distinct→bottom-k.  The hash
    is the same bounded quadratic family as HLL's (all intermediates
    < P² < 2^63), reproduced verbatim by the oracle, so every retained
    hash, both estimates and the Jaccard are pinned to the digit."""
    from aws_etl_bank_spark.functions.scale import (kmv_estimate,
                                                    kmv_jaccard, kmv_sketch)

    ev = load_table(spark, sf_dir, "events")
    a = kmv_sketch(ev.where(F.col("value") < 300), "event_id", k=256)
    b = kmv_sketch(ev.where(F.col("value").between(150, 450)), "event_id",
                   k=256)
    ea = kmv_estimate(a, k=256).select(
        F.col("n_kept").alias("n_a_kept"), F.col("estimate").alias("est_a"))
    eb = kmv_estimate(b, k=256).select(
        F.col("n_kept").alias("n_b_kept"), F.col("estimate").alias("est_b"))
    return (ea.crossJoin(eb).crossJoin(kmv_jaccard(a, b, k=256)))


@q("join_salted_skew", """
SELECT e.event_id, e.user_id, e.event_type, c.c_name,
       ROUND(e.value, 2) AS value
FROM events e JOIN customer c ON e.user_id = c.c_custkey""")
def join_salted_skew(spark, sf_dir):
    """Structurally salted skew join (functions/scale.py salted_join):
    the fact side takes a content-derived salt in [0, 16), the
    customer dim is exploded across ALL 16 salts, and the join runs on
    (user_id, _salt) — each hot user's rows spread over 16 tasks
    instead of one straggler.  This is the STRUCTURAL answer for when a
    known-hot key defeats even AQE's runtime skew split (AQE can only
    split what partial aggregation/join buffering hasn't already
    concentrated).  The dim grows 16× — bounded, it's the small side —
    and the result is EXACTLY the plain equi-join, which is what the
    oracle runs.  The salted-agg sibling is agg_salted_event_totals."""
    from aws_etl_bank_spark.functions.scale import salted_join

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    out = salted_join(ev, cust.withColumnRenamed("c_custkey", "user_id"),
                      "user_id", n_salts=16)
    return out.select("event_id", "user_id", "event_type", "c_name",
                      F.round("value", 2).alias("value"))


@q("sessionize_gap_batch", """
WITH l AS (
  SELECT user_id, event_id, ts, epoch_us(ts) AS us,
         lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS prev
  FROM events),
f AS (
  SELECT user_id, ts, us,
         CASE WHEN prev IS NULL OR us - prev > 21600000000
              THEN 1 ELSE 0 END AS new_s,
         event_id
  FROM l),
s AS (
  SELECT user_id, ts, us,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS session_idx
  FROM f)
SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
       MIN(ts) AS session_start, CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(MAX(us) - MIN(us) AS BIGINT) AS duration_us
FROM s GROUP BY user_id, session_idx""")
def sessionize_gap_batch(spark, sf_dir):
    """Batch gap-based sessionization (functions/eventstream.py
    sessionize_gap) — the offline twin of the streaming session_window
    entry (stream_sessionize): a 6-hour silence starts a new session.
    lag → flag → running count → same-key aggregation, every shuffle
    hashed on the user (parallelism = users, nothing global); duration
    is exact epoch-microsecond integer arithmetic on both engines."""
    from aws_etl_bank_spark.functions.eventstream import sessionize_gap

    ev = load_table(spark, sf_dir, "events")
    return sessionize_gap(ev, gap_seconds=21600)


@q("ts_anomaly_mad", """
WITH v AS (SELECT user_id, event_id, value FROM events
           WHERE value IS NOT NULL),
r AS (SELECT user_id, event_id, value,
             row_number() OVER (PARTITION BY user_id ORDER BY value) AS rr,
             COUNT(*) OVER (PARTITION BY user_id) AS n
      FROM v),
med AS (SELECT user_id, (MIN(value) + MAX(value)) / 2.0 AS med
        FROM r WHERE rr = floor((n + 1) / 2) OR rr = ceil((n + 1) / 2)
        GROUP BY user_id),
d AS (SELECT v.user_id, v.event_id, v.value, med,
             abs(v.value - med) AS adev
      FROM v JOIN med USING (user_id)),
r2 AS (SELECT user_id, adev,
              row_number() OVER (PARTITION BY user_id ORDER BY adev) AS rr,
              COUNT(*) OVER (PARTITION BY user_id) AS n
       FROM d),
mad AS (SELECT user_id, (MIN(adev) + MAX(adev)) / 2.0 AS mad
        FROM r2 WHERE rr = floor((n + 1) / 2) OR rr = ceil((n + 1) / 2)
        GROUP BY user_id),
sc AS (SELECT d.user_id, d.event_id, d.value, d.med, mad.mad,
              0.6745 * (d.value - d.med) / mad.mad AS mz
       FROM d JOIN mad USING (user_id) WHERE mad.mad > 0)
SELECT event_id, user_id, ROUND(value, 2) AS value, ROUND(med, 4) AS med,
       ROUND(mad, 4) AS mad, ROUND(mz, 4) AS mz
FROM sc WHERE abs(mz) > 3.5""")
def ts_anomaly_mad(spark, sf_dir):
    """Robust outlier screen via the modified z-score (Iglewicz–Hoaglin
    0.6745·(x−median)/MAD, |M| > 3.5) per user — the data-quality
    anomaly pass whose median/MAD resist the very outliers that drag a
    mean/stddev z-score (its rolling sibling is ts_rolling_zscore).

    The per-group median is computed WITHOUT an engine median()
    (functions/eventstream.py grouped_median: rank + pick ⌊(n+1)/2⌋ /
    ⌈(n+1)/2⌉ + one fixed (lo+hi)/2 expression) because engine-native
    percentile interpolation is allowed to differ in the last ulp —
    this way both engines run bit-identical arithmetic.  Two keyed
    window+agg passes, group-sized broadcast join-backs, map-only flag;
    med/mad round at 4 decimals (inputs have 2, so the half-sum has at
    most 3 — no half-tie for the engines to disagree on)."""
    from aws_etl_bank_spark.functions.eventstream import mad_anomalies

    ev = load_table(spark, sf_dir, "events")
    out = mad_anomalies(ev, ["user_id"], "value",
                        id_cols=["event_id"], threshold=3.5)
    return out.select("event_id", "user_id",
                      F.round("value", 2).alias("value"),
                      F.round("med", 4).alias("med"),
                      F.round("mad", 4).alias("mad"),
                      F.round("mz", 4).alias("mz"))


@q("ts_cusum_drift", """
WITH p AS (
  SELECT user_id, event_id, ts, value,
         SUM(value - 60.0) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS pre
  FROM events),
s AS (
  SELECT user_id, event_id, value,
         pre - least(MIN(pre) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW), 0) AS cs
  FROM p)
SELECT user_id, event_id, value, ROUND(cs, 2) AS cusum
FROM s WHERE cs > 500.0""")
def ts_cusum_drift(spark, sf_dir):
    """One-sided CUSUM change detection (functions/timeseries.py
    cusum_drift): alarm when the per-user cumulative exceedance over
    reference k=60 crosses h=500 — the sequential "running high lately"
    statistic a point z-score cannot see.  The serial-looking recursion
    S_i = max(0, S_{i-1} + x_i - k) is computed in CLOSED windows-only
    form (S_i = P_i - min(0, running-min P)): a running sum and a
    running min over the same keyed window — one shuffle, no
    applyInPandas, parallelism = number of users.  The oracle replays
    the identical two windows."""
    from aws_etl_bank_spark.functions.timeseries import cusum_drift

    ev = load_table(spark, sf_dir, "events")
    return cusum_drift(ev, "value", ["user_id"], "ts", k=60.0, h=500.0)


@q("quality_fk_orphans", """
WITH rel AS (
  SELECT 'lineitem->orders' AS relation,
         (SELECT COUNT(*) FROM lineitem) AS n_child,
         (SELECT COUNT(*) FROM lineitem l
          WHERE l.l_orderkey IS NOT NULL
            AND NOT EXISTS (SELECT 1 FROM orders o
                            WHERE o.o_orderkey = l.l_orderkey)) AS n_orphans
  UNION ALL
  SELECT 'orders->customer',
         (SELECT COUNT(*) FROM orders),
         (SELECT COUNT(*) FROM orders o
          WHERE o.o_custkey IS NOT NULL
            AND NOT EXISTS (SELECT 1 FROM customer c
                            WHERE c.c_custkey = o.o_custkey))
  UNION ALL
  SELECT 'lineitem->part',
         (SELECT COUNT(*) FROM lineitem),
         (SELECT COUNT(*) FROM lineitem l
          WHERE l.l_partkey IS NOT NULL
            AND NOT EXISTS (SELECT 1 FROM part p
                            WHERE p.p_partkey = l.l_partkey))
  UNION ALL
  SELECT 'lineitem->supplier',
         (SELECT COUNT(*) FROM lineitem),
         (SELECT COUNT(*) FROM lineitem l
          WHERE l.l_suppkey IS NOT NULL
            AND NOT EXISTS (SELECT 1 FROM supplier s
                            WHERE s.s_suppkey = l.l_suppkey)))
SELECT relation, CAST(n_child AS BIGINT) AS n_child,
       CAST(n_orphans AS BIGINT) AS n_orphans,
       ROUND(n_orphans / CAST(n_child AS DOUBLE), 6) AS orphan_frac
FROM rel""")
def quality_fk_orphans(spark, sf_dir):
    """Referential-integrity audit (functions/quality.py
    fk_orphan_report) over the warehouse's four FK relations: each is
    ONE child aggregation with the parent's distinct keys broadcast —
    the cross-table Deequ-style check next to the single-table metric
    suite (quality_metrics_orders).  NULL FKs are "unknown", not
    orphans (the completeness metric's job).  Detection of planted
    orphans is pinned in tests/test_quality.py; the testdata itself is
    referentially clean, which this entry proves every round."""
    from aws_etl_bank_spark.functions.quality import fk_orphan_report

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    return fk_orphan_report([
        ("lineitem->orders", li, "l_orderkey", o, "o_orderkey"),
        ("orders->customer", o, "o_custkey",
         load_table(spark, sf_dir, "customer"), "c_custkey"),
        ("lineitem->part", li, "l_partkey",
         load_table(spark, sf_dir, "part"), "p_partkey"),
        ("lineitem->supplier", li, "l_suppkey",
         load_table(spark, sf_dir, "supplier"), "s_suppkey"),
    ])


def _hll_grouped_oracle() -> str:
    h2 = _HLL_QUAD_SQL.format(a=76003, c=4391, d=9973)
    reg = _HLL_QUAD_SQL.format(a=4391, c=76003, d=51349) + " % 256"
    affines = (_HLL_AFFINE_SQL.format(k="user_id", a=4391, b=9973)
               + " AS h_4391, "
               + _HLL_AFFINE_SQL.format(k="user_id", a=76003, b=51349)
               + " AS h_76003")
    return f"""
WITH raw AS (SELECT event_type, {affines} FROM events),
regs AS (SELECT event_type, {reg} AS register,
                {_HLL_RANK_CASE.format(h2=h2)} AS rank FROM raw),
sk AS (SELECT event_type, register, MAX(rank) AS max_rank
       FROM regs GROUP BY 1, 2),
a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_set,
             SUM(power(2.0, -max_rank)) AS s FROM sk GROUP BY 1),
t AS (SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT)
             AS true_distinct FROM events GROUP BY 1)
SELECT a.event_type, t.true_distinct, a.n_set,
       a.s + (256 - a.n_set) AS sum_inv,
       ROUND({_HLL_ALPHA_M2} / (a.s + (256 - a.n_set)), 4) AS est_raw,
       ROUND(CASE WHEN {_HLL_ALPHA_M2} / (a.s + (256 - a.n_set)) <= 640.0
                       AND a.n_set < 256
                  THEN 256.0 * ln(256.0 / (256 - a.n_set))
                  ELSE {_HLL_ALPHA_M2} / (a.s + (256 - a.n_set)) END,
             4) AS estimate
FROM a JOIN t USING (event_type)"""


@q("sketch_hll_grouped", _hll_grouped_oracle())
def sketch_hll_grouped(spark, sf_dir):
    """Per-GROUP HyperLogLog (functions/scale.py hll_sketch_grouped /
    hll_estimate_grouped): distinct users per event type from ≤ 256
    rows per group — the "distinct per segment" dashboard shape where
    an exact grouped COUNT(DISTINCT) reshuffles raw keys on every
    refresh, while per-day grouped sketches roll up by (group, cell)
    MAX.  One (group, register) hash-agg with map-side combine; the
    oracle reproduces every group's registers and estimate to 4
    decimals, next to the exact count for the accuracy story."""
    from aws_etl_bank_spark.functions.scale import (hll_estimate_grouped,
                                                    hll_sketch_grouped)

    ev = load_table(spark, sf_dir, "events")
    est = hll_estimate_grouped(
        hll_sketch_grouped(ev, ["event_type"], "user_id", m=256),
        ["event_type"], m=256)
    tru = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("true_distinct"))
    return (est.join(tru, "event_type")
            .select("event_type", "true_distinct", "n_set", "sum_inv",
                    "est_raw", "estimate"))


_KMV_USER_SQL_HASH = """(
  ((user_id % 1000003) * 7001 + 104729) % 1000003 *
   (((user_id % 1000003) * 7001 + 104729) % 1000003)
  + 1223 * (((user_id % 1000003) * 7001 + 104729) % 1000003)
  + 514229) % 1000003"""


@q("stream_kmv_distinct", f"""
WITH hs AS (SELECT DISTINCT {_KMV_USER_SQL_HASH} AS h FROM events
            ORDER BY h LIMIT 256)
SELECT CAST(COUNT(*) AS BIGINT) AS n_kept,
       ROUND(CASE WHEN COUNT(*) < 256 THEN CAST(COUNT(*) AS DOUBLE)
                  ELSE 255.0 * 1000003.0 / CAST(MAX(h) AS DOUBLE) END,
             4) AS estimate,
       (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM events)
         AS true_distinct
FROM hs""")
def stream_kmv_distinct(spark, sf_dir):
    """Streaming distinct-count via the MERGEABLE KMV sketch
    (functions/scale.py): each micro-batch keeps only its bottom-256
    user-id hashes; cross-batch state is the union's bottom-256 — never
    the raw id set — and the final estimate reads off the merged
    sketch.  Because bottom-k-of-union == bottom-k-of-concatenation
    exactly (pinned in tests/test_scale.py), the streamed result equals
    the batch computation bit-for-bit: the shared batch oracle is the
    proof, exactly like stream_quantile_sketch.  The `true_distinct`
    column rides along for the accuracy story."""
    import pyspark.sql.types as T

    from aws_etl_bank_spark.functions.scale import kmv_estimate, kmv_sketch
    from aws_etl_bank_spark.sources.testdata import events_stream
    from aws_etl_bank_spark.streaming import for_each_batch

    from aws_etl_bank_spark.plans.registry_llm_stream import _events_stream_dir

    stream = events_stream(spark, _events_stream_dir(sf_dir))
    collected: list = []

    def handle(batch_df, batch_id):
        rows = kmv_sketch(batch_df, "user_id", k=256).collect()
        collected.extend([(r["h"],) for r in rows])

    for_each_batch(stream, handle, {
        "windowSize": "1 seconds",
        "checkpointLocation": _scratch_run(sf_dir, "kmv_ckpt"),
        "availableNow": True,
    })
    schema = T.StructType([T.StructField("h", T.LongType())])
    merged = (spark.createDataFrame(collected, schema)
              .distinct().orderBy("h").limit(256))
    est = kmv_estimate(merged, k=256)
    tru = (load_table(spark, sf_dir, "events")
           .agg(F.count_distinct("user_id").alias("true_distinct")))
    return est.crossJoin(F.broadcast(tru))
