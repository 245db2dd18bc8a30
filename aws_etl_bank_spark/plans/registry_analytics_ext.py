"""Analytics registry subpart 2: rolling medians, OHLC siblings,
quality, avro ingest, catalog stats, null-safe joins and the later
analytics surfaces (formerly registry_analytics.py lines 2019-4025).
Pure mechanical move — see subpart 1's docstring for the split
contract.
"""

from __future__ import annotations

import os  # noqa: F401

import pyspark.sql.functions as F  # noqa: F401
import pyspark.sql.types as T  # noqa: F401
from pyspark.sql import DataFrame, SparkSession, Window  # noqa: F401

from aws_etl_bank_spark.sources.testdata import load_table  # noqa: F401
from aws_etl_bank_spark.plans.registry import (  # noqa: F401
    SCRATCH, canon0, q, _scratch, _scratch_run)


@q("ts_rolling_median_k7", """
WITH l AS (
  SELECT event_id, user_id, ts, value,
         list_sort(list(value) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id
                                     ROWS BETWEEN 6 PRECEDING
                                              AND CURRENT ROW)) AS win
  FROM events)
SELECT event_id, user_id,
       CAST(len(win) AS INT) AS k,
       CAST(win[(len(win) + 1) // 2] AS DOUBLE) AS rolling_median
FROM l""")
def ts_rolling_median_k7(spark, sf_dir):
    """Rolling LOWER median of the last ≤7 events per user — the
    robust-smoothing alternative to the rolling mean every
    fraud/telemetry screen wants (one outlier can't move it).  Spark
    has no percentile over sliding frames, but a BOUNDED frame makes
    the array form exact and cheap: collect_list over the 7-row frame,
    array_sort, pick element (k+1)/2 — per-row work is O(k log k) with
    k pinned at 7, and the only shuffle is the user_id window's.  The
    lower median is a VALUE PICK, never interpolation arithmetic, so
    both engines agree bit-for-bit on doubles (the rank-picked canon
    from the percentile entries)."""
    ev = load_table(spark, sf_dir, "events")
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(-6, 0))
    arr = F.array_sort(F.collect_list("value").over(w))
    k = F.size(arr)
    return (ev.select(
        "event_id", "user_id", arr.alias("win"), k.alias("k"))
        .select("event_id", "user_id", F.col("k").cast("int").alias("k"),
                F.element_at("win", F.floor((F.col("k") + 1) / 2)
                             .cast("int"))
                .cast("double").alias("rolling_median")))


@q("quality_k_anonymity", """
WITH g AS (
  SELECT c_nationkey, c_mktsegment, CAST(COUNT(*) AS BIGINT) AS grp_n
  FROM customer GROUP BY 1, 2)
SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(MIN(grp_n) AS BIGINT) AS min_group,
       CAST(SUM(CASE WHEN grp_n < 5 THEN grp_n ELSE 0 END) AS BIGINT)
         AS n_below_k,
       ROUND(SUM(CASE WHEN grp_n < 5 THEN grp_n ELSE 0 END)
             / CAST(SUM(grp_n) AS DOUBLE) + 0.000000001, 6)
         AS share_below_k
FROM g""")
def quality_k_anonymity(spark, sf_dir):
    """k-anonymity audit over the (nation, market-segment)
    quasi-identifier — the privacy gate a bank runs before sharing a
    dataset: how many customers sit in equivalence classes smaller
    than k=5 (each one re-identifiable by the QI combination alone).
    Two hash-aggs — QI-class counts, then a 1-row scorecard — the
    100 TB scan reduces immediately; share rendered with the house
    nudge-round."""
    c = load_table(spark, sf_dir, "customer")
    g = (c.groupBy("c_nationkey", "c_mktsegment")
         .agg(F.count(F.lit(1)).alias("grp_n")))
    below = F.when(F.col("grp_n") < 5, F.col("grp_n")).otherwise(0)
    return g.agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.min("grp_n").cast("long").alias("min_group"),
        F.sum(below).cast("long").alias("n_below_k"),
        F.round(F.sum(below).cast("double") / F.sum("grp_n")
                + F.lit(1e-9), 6).alias("share_below_k"))


@q("stream_avro_ingest", """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS cents
FROM events GROUP BY event_type""")
def stream_avro_ingest(spark, sf_dir):
    """Streaming ingest of Avro DATUM payloads — the Kafka topology
    every bank runs (schema-less avro value bytes per message),
    minus the broker: events serialize to avro payload files (our
    pure-Python codec, sources/avro.py), a file stream replays them
    in micro-batches, and each batch decodes via ``from_avro_datum``
    inside foreachBatch before appending to the bronze sink.  The
    oracle aggregates the ORIGINAL table, so the equality proves the
    encode→stream→decode loop is lossless end-to-end, micro-batch
    boundaries included.  Decode is Arrow-batched per micro-batch;
    nothing corpus-sized crosses the driver."""
    import json as _json

    from aws_etl_bank_spark.sources.avro import (from_avro_datum,
                                                 to_avro_datum)
    from aws_etl_bank_spark.streaming import for_each_batch

    schema = _json.dumps({
        "type": "record", "name": "ev", "fields": [
            {"name": "event_id", "type": "long"},
            {"name": "event_type", "type": ["null", "string"]},
            {"name": "value", "type": "double"}]})
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value")
    src = _scratch(sf_dir, "avro_stream_src")
    (to_avro_datum(ev, ["event_id", "event_type", "value"], schema,
                   out_col="payload")
     .select("payload").repartition(3)
     .write.mode("overwrite").parquet(src))
    sink = _scratch_run(sf_dir, "avro_stream_sink")

    def handle(batch_df, batch_id):
        dec = from_avro_datum(batch_df, "payload", schema, out_col="rec")
        (dec.select(F.col("rec.event_type").alias("event_type"),
                    F.col("rec.value").alias("value"))
         .write.mode("append").parquet(sink))

    stream = (spark.readStream.schema("payload binary")
              .option("maxFilesPerTrigger", 1).parquet(src))
    for_each_batch(stream, handle, {
        "windowSize": "1 seconds",
        "checkpointLocation": _scratch_run(sf_dir, "avro_stream_ckpt"),
        "availableNow": True,
    })
    out = spark.read.parquet(sink)
    return (out.groupBy("event_type")
            .agg(F.count(F.lit(1)).cast("long").alias("n"),
                 F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long"))
                 .cast("long").alias("cents")))


@q("catalog_analyze_columns", """
WITH s AS (
  SELECT 'o_orderkey' AS col, CAST(o_orderkey AS VARCHAR) AS v FROM orders
  UNION ALL
  SELECT 'o_custkey', CAST(o_custkey AS VARCHAR) FROM orders
  UNION ALL
  SELECT 'o_orderstatus', o_orderstatus FROM orders
  UNION ALL
  SELECT 'o_orderpriority', o_orderpriority FROM orders)
SELECT col, CAST(COUNT(v) AS BIGINT) AS n_nonnull,
       CAST(COUNT(DISTINCT v) AS BIGINT) AS ndv
FROM s GROUP BY col""")
def catalog_analyze_columns(spark, sf_dir):
    """ANALYZE-style column statistics (non-null count + exact NDV per
    column) — what a catalog's cost-based optimizer feeds on and what
    every data-quality dashboard trends.  ONE scan: ``stack`` unpivots
    the four profiled columns to (col, value) rows — versus the naive
    four-count-distinct aggregate, whose Expand inflates the SHUFFLE
    by the column count too; here the expand feeds a map-side-combined
    (col, v) dedup agg, so the exchange carries distinct values only.
    Discrete columns keyed as strings (injective render — doubles are
    deliberately absent: their engine-specific rendering isn't)."""
    o = load_table(spark, sf_dir, "orders")
    s = o.select(F.expr(
        "stack(4, 'o_orderkey', CAST(o_orderkey AS STRING), "
        "'o_custkey', CAST(o_custkey AS STRING), "
        "'o_orderstatus', o_orderstatus, "
        "'o_orderpriority', o_orderpriority) AS (col, v)"))
    d = s.groupBy("col", "v").agg(F.count(F.lit(1)).alias("c"))
    return (d.groupBy("col")
            .agg(F.sum(F.when(F.col("v").isNotNull(), F.col("c"))
                       .otherwise(0)).cast("long").alias("n_nonnull"),
                 F.sum(F.when(F.col("v").isNotNull(), 1).otherwise(0))
                 .cast("long").alias("ndv")))


@q("join_null_safe_equi", """
WITH l AS (
  SELECT CASE WHEN o_custkey % 97 = 0 THEN NULL ELSE o_custkey END AS k,
         CAST(COUNT(*) AS BIGINT) AS n_orders
  FROM orders GROUP BY 1),
r AS (
  SELECT CASE WHEN c_custkey % 97 = 0 THEN NULL ELSE c_custkey END AS k,
         c_name
  FROM customer)
SELECT l.k, l.n_orders, r.c_name
FROM l JOIN r ON l.k IS NOT DISTINCT FROM r.k""")
def join_null_safe_equi(spark, sf_dir):
    """NULL-safe equi-join (``<=>`` / IS NOT DISTINCT FROM) — the
    join every late-arriving-dimension pipeline needs when "unknown"
    keys must MATCH each other instead of silently dropping (a plain
    equi-join's NULL never equals NULL).  Spark plans ``<=>`` as a
    hash-join key like any other (NULLs hash to one partition — which
    is also why the null group is the canonical skew key at 100 TB:
    the aggregate-before-join here keeps it one row on the left).
    Oracle: the same join under DuckDB's IS NOT DISTINCT FROM."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    null_if = lambda col: F.when(F.col(col) % 97 == 0,  # noqa: E731
                                 F.lit(None)).otherwise(F.col(col))
    left = (o.select(null_if("o_custkey").alias("k"))
            .groupBy("k").agg(F.count(F.lit(1)).cast("long")
                              .alias("n_orders")))
    right = c.select(null_if("c_custkey").alias("k"), "c_name")
    return (left.join(right, left["k"].eqNullSafe(right["k"]))
            .select(left["k"].alias("k"), "n_orders", "c_name"))


@q("ops_schema_merge_evolution", """
SELECT s_suppkey, s_name, CAST(NULL AS DOUBLE) AS s_acctbal,
       CAST(NULL AS INTEGER) AS s_nationkey
FROM supplier
UNION ALL
SELECT s_suppkey, CAST(NULL AS VARCHAR), s_acctbal, s_nationkey
FROM supplier""")
def ops_schema_merge_evolution(spark, sf_dir):
    """Schema evolution on read (``mergeSchema``) — the lake reality
    that a table's files were written by DIFFERENT pipeline versions:
    generation 1 wrote (suppkey, name), generation 2 added
    (acctbal, nationkey) and dropped name; a merged read must union
    the schemas and NULL-pad each generation's missing columns, never
    error and never silently project to the first footer.  Spark's
    parquet mergeSchema does exactly that from the file footers alone
    (no catalog); the oracle constructs the same union explicitly.
    Footer merging is a driver-side metadata pass over file FOOTERS,
    not data — at 100 TB you cap it with a catalog schema instead,
    which is why the entry documents both."""
    s = load_table(spark, sf_dir, "supplier")
    base = _scratch(sf_dir, "evolving_table")
    (s.select("s_suppkey", "s_name")
     .write.mode("overwrite").parquet(os.path.join(base, "gen=1")))
    (s.select("s_suppkey", "s_acctbal", "s_nationkey")
     .write.mode("overwrite").parquet(os.path.join(base, "gen=2")))
    merged = (spark.read.option("mergeSchema", "true")
              .option("recursiveFileLookup", "true").parquet(base))
    return merged.select("s_suppkey", "s_name", "s_acctbal",
                         "s_nationkey")


@q("ops_observe_metrics", """
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(l_quantity * 100 AS BIGINT)) AS BIGINT) AS qty_cents,
       CAST(COUNT(*) FILTER (WHERE l_quantity > 10) AS BIGINT) AS n_big
FROM lineitem""")
def ops_observe_metrics(spark, sf_dir):
    """Pipeline-embedded metrics via ``DataFrame.observe`` +
    ``Observation`` — the production pattern for row-count / checksum
    telemetry WITHOUT a second scan: the observed aggregates ride the
    same physical plan as the real job (here a downstream filter+count
    action) and surface on the driver when the action finishes, so a
    100 TB job gets its reconciliation totals for free instead of
    re-reading the table.  The quantity checksum uses exact int64
    cents (the money canon).  The oracle recomputes all three metrics
    declaratively; the driver-side work is ONE bounded metrics row."""
    from pyspark.sql import Observation

    li = load_table(spark, sf_dir, "lineitem")
    obs = Observation("lineitem_metrics")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum((F.col("l_quantity") * 100).cast("long")).alias("qty_cents"))
    n_big = observed.filter(F.col("l_quantity") > 10).count()
    m = obs.get
    return spark.createDataFrame(
        [(m["n_rows"], m["qty_cents"], n_big)],
        "n_rows long, qty_cents long, n_big long")


@q("udaf_grouped_weighted_mean", """
WITH w AS (
  SELECT event_type,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents,
         event_id % 5 + 1 AS wt
  FROM events)
SELECT event_type,
       CAST(SUM(cents * wt) AS BIGINT) AS ws,
       CAST(SUM(wt) AS BIGINT) AS tw,
       ROUND(CAST(SUM(cents * wt) AS DOUBLE) / SUM(wt), 6) AS wmean_cents
FROM w GROUP BY event_type""")
def udaf_grouped_weighted_mean(spark, sf_dir):
    """The Python UDAF surface (grouped-agg pandas UDF, §2.12's
    documented upgrade path) doing a weighted mean over exact int64
    cents — the weighted sum flows through the Arrow UDAF, the weight
    total through a built-in SUM in the SAME aggregation, and the mean
    is one IEEE-exact division.  The oracle computes the identical
    SUM(v·w)/SUM(w) natively: equality proves the UDAF path is exact,
    and the docstring (functions/udf.py) records why built-ins win
    when the aggregate IS decomposable — a grouped-agg UDF sees the
    whole group in memory, no map-side combine."""
    from aws_etl_bank_spark.functions.udf import weighted_cents_udaf

    wc, int_sum = weighted_cents_udaf()
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("cents"),
        (F.col("event_id") % 5 + 1).alias("wt"))
    return (ev.groupBy("event_type")
            .agg(wc("cents", "wt").alias("ws"),
                 int_sum("wt").alias("tw"))
            .select("event_type", "ws", "tw",
                    F.round(F.col("ws").cast("double") / F.col("tw"), 6)
                    .alias("wmean_cents")))


@q("udtf_sentence_split", r"""
WITH p AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\.\s+'),
                     x -> x <> '') AS pieces
  FROM documents WHERE doc_id % 20 = 0),
s AS (
  SELECT doc_id,
         unnest(pieces) AS sentence,
         CAST(unnest(range(len(pieces))) AS INT) AS sent_idx
  FROM p)
SELECT doc_id, sent_idx, sentence,
       CAST(len(list_filter(string_split_regex(sentence, '\s+'),
                            w -> w <> '')) AS INT) AS n_words
FROM s""")
def udtf_sentence_split(spark, sf_dir):
    """The Python UDTF surface (§2.12's other upgrade path): a lateral
    table function fanning each document into per-sentence rows with
    index and word count — the row-generating shape (parse trees,
    chunkers, tokenizers) that scalar UDFs can't express and explode
    can only fake by materializing the whole array per row first.
    Runs as a generator per partition under Arrow; the LATERAL join
    keeps everything distributed.  Oracle mirrors the split + filter
    conventions exactly."""
    from aws_etl_bank_spark.functions.udf import sentence_split_udtf

    SentenceSplit = sentence_split_udtf()
    spark.udtf.register("sent_split_r9", SentenceSplit)
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 20 == 0)
    docs.createOrReplaceTempView("__udtf_docs")
    return spark.sql(
        "SELECT doc_id, s.sent_idx, s.sentence, s.n_words "
        "FROM __udtf_docs, LATERAL sent_split_r9(text) s")


@q("quality_l_diversity", """
WITH g AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(COUNT(*) AS BIGINT) AS grp_n,
         CAST(COUNT(DISTINCT CAST(FLOOR(c_acctbal / 2000) AS BIGINT))
              AS BIGINT) AS n_sensitive
  FROM customer GROUP BY 1, 2)
SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(MIN(n_sensitive) AS BIGINT) AS min_diversity,
       CAST(SUM(CASE WHEN n_sensitive < 3 THEN 1 ELSE 0 END) AS BIGINT)
         AS groups_below_l,
       CAST(SUM(CASE WHEN n_sensitive < 3 THEN grp_n ELSE 0 END) AS BIGINT)
         AS rows_below_l
FROM g""")
def quality_l_diversity(spark, sf_dir):
    """l-diversity audit — k-anonymity's stronger sibling
    (quality_k_anonymity): a QI class can be large yet still leak if
    every member shares the SAME sensitive value, so the gate is
    distinct-sensitive-values per (nation, segment) class, l=3, with
    balance band floor(acctbal/2000) as the sensitive attribute.  Two
    hash-aggs and a 1-row scorecard; the count-distinct is per-group
    (bounded by band cardinality), so the 100 TB scan reduces
    immediately and nothing skews."""
    c = load_table(spark, sf_dir, "customer")
    band = F.floor(F.col("c_acctbal") / 2000).cast("long")
    g = (c.groupBy("c_nationkey", "c_mktsegment")
         .agg(F.count(F.lit(1)).alias("grp_n"),
              F.countDistinct(band).alias("n_sensitive")))
    below = F.col("n_sensitive") < 3
    return g.agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.min("n_sensitive").cast("long").alias("min_diversity"),
        F.sum(F.when(below, 1).otherwise(0)).cast("long")
        .alias("groups_below_l"),
        F.sum(F.when(below, F.col("grp_n")).otherwise(0)).cast("long")
        .alias("rows_below_l"))


@q("score_ks_statistic", """
WITH s AS (
  SELECT o_totalprice AS x,
         CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END AS a,
         CASE WHEN o_orderstatus <> 'O' THEN 1 ELSE 0 END AS b
  FROM orders),
g AS (SELECT x, CAST(SUM(a) AS BIGINT) AS da,
             CAST(SUM(b) AS BIGINT) AS db
      FROM s GROUP BY x),
c AS (SELECT x,
             CAST(SUM(da) OVER (ORDER BY x) AS BIGINT) AS ca,
             CAST(SUM(db) OVER (ORDER BY x) AS BIGINT) AS cb
      FROM g),
n AS (SELECT CAST(SUM(a) AS BIGINT) AS na,
             CAST(SUM(b) AS BIGINT) AS nb FROM s)
SELECT x AS threshold,
       CAST(ABS(ca * nb - cb * na) AS BIGINT) AS diff_units,
       ROUND(ABS(ca * nb - cb * na) / CAST(na * nb AS DOUBLE)
             + 0.000000001, 6) AS ks
FROM c, n
ORDER BY ABS(ca * nb - cb * na) DESC, x LIMIT 1""")
def score_ks_statistic(spark, sf_dir):
    """Exact two-sample Kolmogorov-Smirnov statistic (open vs
    non-open order price distributions) — the model-monitoring /
    population-drift metric next to score_psi_drift, computed with
    INTEGER math end to end: per-threshold cumulative counts come
    from ``bucketed_cumsum`` (functions/scale.py — the running-sum
    sibling of bucketed_global_rank: per-cell totals prefix-summed on
    the driver, within-cell window partitioned by cell, NO
    single-task ORDER BY window), the sup statistic compares
    |ca*nb − cb*na| in int64 (association-free), and the only float
    op is the final division, rendered with the house nudge-round.
    The oracle is the plain window-SQL form."""
    from aws_etl_bank_spark.functions.scale import bucketed_cumsum

    o = load_table(spark, sf_dir, "orders")
    s = o.select(
        F.col("o_totalprice").alias("x"),
        F.when(F.col("o_orderstatus") == "O", 1).otherwise(0).alias("a"),
        F.when(F.col("o_orderstatus") != "O", 1).otherwise(0).alias("b"))
    g = (s.groupBy("x")
         .agg(F.sum("a").cast("long").alias("da"),
              F.sum("b").cast("long").alias("db")))
    c = bucketed_cumsum(g, "x", ["da", "db"])
    n = s.agg(F.sum("a").cast("long").alias("na"),
              F.sum("b").cast("long").alias("nb"))
    diff = F.abs(F.col("cum_da") * F.col("nb")
                 - F.col("cum_db") * F.col("na"))
    return (c.crossJoin(F.broadcast(n))
            .select(F.col("x").alias("threshold"),
                    diff.cast("long").alias("diff_units"),
                    F.round(diff / (F.col("na") * F.col("nb"))
                            .cast("double") + F.lit(1e-9), 6).alias("ks"))
            .orderBy(F.desc("diff_units"), "threshold").limit(1))


@q("ops_partition_file_stats", """
SELECT CAST(s_nationkey AS INTEGER) AS s_nationkey,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(1 AS BIGINT) AS n_files
FROM supplier GROUP BY 1""")
def ops_partition_file_stats(spark, sf_dir):
    """Partition-layout introspection via the hidden ``_metadata``
    column — the ops view a lake needs before compaction/pruning
    decisions: write supplier hive-partitioned by nation (one file per
    partition via repartition on the partition key), read it back, and
    aggregate rows + DISTINCT physical files per partition from
    ``_metadata.file_path`` (no directory listing in user code; the
    source exposes its own layout).  The oracle recomputes rows per
    nation declaratively and pins the 1-file-per-partition layout the
    repartition guarantees.  Partition values surface as the read
    schema's partition column; counts prove discovery saw every file."""
    s = load_table(spark, sf_dir, "supplier")
    path = _scratch(sf_dir, "supplier_hive")
    (s.repartition("s_nationkey")
     .write.mode("overwrite").partitionBy("s_nationkey").parquet(path))
    back = spark.read.parquet(path)
    return (back.select(F.col("s_nationkey").cast("int").alias("s_nationkey"),
                        F.col("_metadata.file_path").alias("fp"))
            .groupBy("s_nationkey")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.countDistinct("fp").alias("n_files"))
            .select("s_nationkey",
                    F.col("n_rows").cast("long").alias("n_rows"),
                    F.col("n_files").cast("long").alias("n_files")))


@q("ops_table_reconcile_buckets", """
WITH a AS (
  SELECT o_orderkey % 64 AS bucket,
         CAST('0x' || substr(md5(
             CAST(o_orderkey AS VARCHAR) || '|' ||
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) || '|' ||
             o_orderstatus), 1, 15) AS BIGINT) AS h
  FROM orders),
b AS (
  SELECT o_orderkey % 64 AS bucket,
         CAST('0x' || substr(md5(
             CAST(o_orderkey AS VARCHAR) || '|' ||
             CAST(CAST(CASE WHEN o_orderkey % 13 = 0
                            THEN o_totalprice + 1.5
                            ELSE o_totalprice END
                       AS DECIMAL(18,2)) AS VARCHAR) || '|' ||
             o_orderstatus), 1, 15) AS BIGINT) AS h
  FROM orders WHERE o_orderkey % 89 <> 0),
ga AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_a,
              CAST(bit_xor(h) AS BIGINT) AS x_a
       FROM a GROUP BY bucket),
gb AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_b,
              CAST(bit_xor(h) AS BIGINT) AS x_b
       FROM b GROUP BY bucket)
SELECT CAST(COALESCE(ga.bucket, gb.bucket) AS BIGINT) AS bucket,
       COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b
FROM ga FULL OUTER JOIN gb ON ga.bucket = gb.bucket
WHERE COALESCE(n_a, 0) <> COALESCE(n_b, 0)
   OR COALESCE(x_a, 0) <> COALESCE(x_b, 0)""")
def ops_table_reconcile_buckets(spark, sf_dir):
    """Hash-bucket table reconciliation — how two 100 TB table copies
    are compared WITHOUT moving rows: each side reduces to 64 bucket
    fingerprints (row count + bit_xor of a canonical row hash — XOR is
    order-free and overflow-free, unlike a SUM of 60-bit hashes), and
    only fingerprint-mismatched buckets surface for row-level digging.
    The row hash is the engine-portable md5→int64 canon
    (conv(substr(md5,1,15))) over key|price|status with the price
    rendered through DECIMAL(18,2) so both engines hash identical
    bytes; side B injects %13 reprices and %89 deletes.  Two scans,
    two 64-row hash-aggs, one 64-row join."""
    o = load_table(spark, sf_dir, "orders")

    def hashed(price_col):
        s = F.concat_ws(
            "|", F.col("o_orderkey").cast("string"),
            price_col.cast("decimal(18,2)").cast("string"),
            F.col("o_orderstatus"))
        return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")

    a = o.select((F.col("o_orderkey") % 64).alias("bucket"),
                 hashed(F.col("o_totalprice")).alias("h"))
    newprice = F.when(F.col("o_orderkey") % 13 == 0,
                      F.col("o_totalprice") + 1.5) \
        .otherwise(F.col("o_totalprice"))
    b = (o.filter(F.col("o_orderkey") % 89 != 0)
         .select((F.col("o_orderkey") % 64).alias("bucket"),
                 hashed(newprice).alias("h")))
    ga = a.groupBy("bucket").agg(F.count(F.lit(1)).cast("long").alias("n_a"),
                                 F.bit_xor("h").alias("x_a"))
    gb = b.groupBy("bucket").agg(F.count(F.lit(1)).cast("long").alias("n_b"),
                                 F.bit_xor("h").alias("x_b"))
    # FULL OUTER on bucket (r10 ADVICE): a bucket entirely absent from
    # one copy (all its rows deleted) must surface as a mismatch, not
    # vanish from the report — an inner join hides exactly the worst
    # diff.  COALESCE counts/xors to 0 so the one-sided comparison is
    # well-defined (the USING-column join coalesces bucket itself).
    zero = F.lit(0).cast("long")
    return (ga.join(gb, "bucket", "full_outer")
            .withColumn("n_a", F.coalesce("n_a", zero))
            .withColumn("n_b", F.coalesce("n_b", zero))
            .filter((F.col("n_a") != F.col("n_b"))
                    | (F.coalesce("x_a", zero) != F.coalesce("x_b", zero)))
            .select(F.col("bucket").cast("long").alias("bucket"),
                    "n_a", "n_b"))


@q("catalog_equidepth_histogram", """
WITH r AS (
  SELECT o_totalprice,
         row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS rk
  FROM orders),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM orders),
t AS (SELECT unnest(range(1, 9)) AS i)
SELECT CAST(t.i AS INT) AS q,
       CAST(r.rk AS BIGINT) AS rk,
       r.o_totalprice AS boundary
FROM r, n, t
WHERE r.rk = (t.i * n.c + 7) // 8""")
def catalog_equidepth_histogram(spark, sf_dir):
    """Equi-depth histogram boundaries (the CBO statistics a catalog's
    ANALYZE collects, next to catalog_analyze_columns' NDV): the order
    price at ranks ceil(i·n/8), i=1..8, EXACT — ranks come from
    ``bucketed_global_rank`` (histogram cells + per-cell row_number,
    no single-task ORDER BY window), boundary targets from integer
    math ((i·n+7) div 8), and the 8 target ranks broadcast-join
    against the ranked frame.  The oracle is the plain window form.
    One corpus scan + the rank machinery's two bounded passes."""
    from aws_etl_bank_spark.functions.scale import bucketed_global_rank

    o = load_table(spark, sf_dir, "orders").select(
        "o_totalprice", "o_orderkey")
    ranked = bucketed_global_rank(o, "o_totalprice", ["o_orderkey"],
                                  out_col="rk")
    n = o.count()
    targets = [(i, (i * n + 7) // 8) for i in range(1, 9)]
    t = spark.createDataFrame(targets, "q int, rk long")
    return (ranked.join(F.broadcast(t), "rk")
            .select("q", F.col("rk").cast("long").alias("rk"),
                    F.col("o_totalprice").alias("boundary")))


@q("src_python_datasource", """
SELECT s_suppkey, s_nationkey, s_acctbal, s_name FROM supplier""")
def src_python_datasource(spark, sf_dir):
    """Custom PYTHON DataSource (Spark 4 ``pyspark.sql.datasource``) —
    the modern form of the reference's custom-connector dispatch
    (getSource(connection_type=...)): sources/pyds.py registers a
    pyarrow-backed parquet reader whose ``partitions()`` lists the
    file's ROW GROUPS (driver reads only the footer) and whose tasks
    yield Arrow RecordBatches for just their row group — a
    Python-defined connector that still parallelizes like a native
    scan and never builds Python row objects.  Identity oracle over
    supplier, so framing/typing bugs in the connector fail the hash."""
    import os

    from aws_etl_bank_spark.sources.pyds import PyArrowParquetDataSource

    spark.dataSource.register(PyArrowParquetDataSource)
    return (spark.read.format("pyarrow_parquet")
            .option("path", os.path.join(sf_dir, "supplier.parquet"))
            .option("columns", "s_suppkey,s_nationkey,s_acctbal,s_name")
            .load())


@q("src_python_datasource_writer", """
SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
FROM orders WHERE o_orderkey % 7 = 0""")
def src_python_datasource_writer(spark, sf_dir):
    """WRITER half of the custom Python DataSource (the Spark 4
    ``DataSourceArrowWriter`` API, sources/pyds.py): each task streams
    its Arrow RecordBatches into one parquet file (write-then-rename,
    atomic per task; abort deletes the files named in the commit
    messages), so the Python-defined sink parallelizes like a native
    write and never materializes Python rows.  Round-trip through the
    native parquet reader with an identity oracle — framing/typing
    bugs in the writer fail the hash."""
    from aws_etl_bank_spark.sources.pyds import PyArrowParquetDataSource

    spark.dataSource.register(PyArrowParquetDataSource)
    df = (load_table(spark, sf_dir, "orders")
          .where(F.col("o_orderkey") % 7 == 0)
          .select("o_orderkey", "o_custkey", "o_totalprice",
                  "o_orderstatus"))
    path = _scratch(sf_dir, "pyds_writer")
    (df.repartition(4).write.format("pyarrow_parquet")
       .mode("overwrite").option("path", path).save())
    return spark.read.parquet(path)


@q("arrow_grouped_apply", """
WITH c AS (
  SELECT o_orderkey, o_custkey,
         CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders),
g AS (
  SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS cnt,
         CAST(SUM(cents) AS BIGINT) AS total
  FROM c GROUP BY o_custkey)
SELECT c.o_orderkey, c.o_custkey,
       CAST(c.cents * g.cnt - g.total AS BIGINT) AS scaled_delta
FROM c JOIN g USING (o_custkey)""")
def arrow_grouped_apply(spark, sf_dir):
    """``groupBy().applyInArrow`` (Spark 4): the grouped-map surface
    with the whole group handed to Python as ONE ``pyarrow.Table`` —
    no pandas conversion, integer kernels run on Arrow buffers.  The
    kernel emits each order's mean-free spend as the exact-integer
    form cents·n − Σcents (no division, so the SQL oracle reproduces
    it bit-for-bit).  Grouping key is o_custkey — per-group size is
    orders-per-customer (~10), so groups stay cache-sized at any SF;
    the shuffle is the same hash-partition an aggregate would do."""
    import pyarrow as pa
    import pyarrow.compute as pc

    c = (load_table(spark, sf_dir, "orders")
         .select("o_orderkey", "o_custkey",
                 F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
                 .cast("long").alias("cents")))

    def kernel(table: pa.Table) -> pa.Table:
        cents = table.column("cents")
        total = pc.sum(cents).as_py() or 0
        n = table.num_rows
        delta = pc.subtract(
            pc.multiply(cents, pa.scalar(n, pa.int64())),
            pa.scalar(total, pa.int64()))
        return pa.table({"o_orderkey": table.column("o_orderkey"),
                         "o_custkey": table.column("o_custkey"),
                         "scaled_delta": delta})

    return c.groupBy("o_custkey").applyInArrow(
        kernel, "o_orderkey bigint, o_custkey bigint, scaled_delta bigint")


@q("arrow_udf_scalar", """
WITH c AS (
  SELECT o_orderkey,
         CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
         o_orderpriority
  FROM orders)
SELECT o_orderkey,
       CAST(cents + cents // 10 AS BIGINT) AS with_surcharge,
       UPPER(o_orderpriority) AS pri
FROM c""")
def arrow_udf_scalar(spark, sf_dir):
    """``F.arrow_udf`` (Spark 4.1): scalar UDFs whose batches arrive
    as ``pyarrow.Array`` — the Arrow-native tier above pandas_udf
    (no pandas materialization at all).  Integer surcharge math and a
    utf8 upper both run as single pyarrow.compute kernel calls per
    batch; values are exact ints/strings, so the SQL oracle
    hash-checks the whole path.  Map-only plan: zero exchanges,
    the UDF sits inside the scan's project."""
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql.functions import arrow_udf

    # NOTE: real pa.Array annotations, not strings — registry.py runs
    # under `from __future__ import annotations`, which would turn
    # hints into strings and trip arrow_udf's signature check, so the
    # hints are attached explicitly.
    def _with_surcharge(cents):
        # pyarrow integer divide truncates; inputs are positive cents
        # so truncation == floor == DuckDB's // semantics
        return pc.add(cents, pc.divide(cents, pa.scalar(10, pa.int64())))

    def _upper(s):
        return pc.utf8_upper(s)

    _with_surcharge.__annotations__ = {"cents": pa.Array,
                                       "return": pa.Array}
    _upper.__annotations__ = {"s": pa.Array, "return": pa.Array}
    with_surcharge = arrow_udf(_with_surcharge, "long")
    upper = arrow_udf(_upper, "string")

    o = load_table(spark, sf_dir, "orders")
    cents = (F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
             .cast("long"))
    return o.select(
        "o_orderkey",
        with_surcharge(cents).alias("with_surcharge"),
        upper(F.col("o_orderpriority")).alias("pri"))


@q("udf_sql_scalar", """
SELECT o_orderkey,
       CASE WHEN o_totalprice < 50000 THEN 'low'
            WHEN o_totalprice < 150000 THEN 'mid'
            ELSE 'high' END AS band,
       FLOOR(o_totalprice * 1.5 + 0.5) / 100 AS fee
FROM orders""")
def udf_sql_scalar(spark, sf_dir):
    """SQL scalar UDFs (Spark 4 ``CREATE FUNCTION ... RETURNS ...
    RETURN expr``) — the §2.12 surface done RIGHT for 100 TB: unlike a
    Python UDF the body is inlined into the Catalyst plan (stays
    inside whole-stage codegen, vectorizes, costs zero serialization),
    so shared business logic (price banding, fee schedules) lives in
    one catalog definition instead of N copied expressions.  Two
    functions defined once, used in one projection; the oracle inlines
    the same expressions."""
    spark.sql("""
        CREATE OR REPLACE TEMPORARY FUNCTION price_band(p DOUBLE)
        RETURNS STRING
        RETURN CASE WHEN p < 50000 THEN 'low'
                    WHEN p < 150000 THEN 'mid'
                    ELSE 'high' END""")
    spark.sql("""
        CREATE OR REPLACE TEMPORARY FUNCTION fee(p DOUBLE)
        RETURNS DOUBLE
        RETURN FLOOR(p * 1.5 + 0.5) / 100""")
    o = load_table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("__udfsql_orders")
    return spark.sql("""
        SELECT o_orderkey, price_band(o_totalprice) AS band,
               fee(o_totalprice) AS fee
        FROM __udfsql_orders""")


@q("scalar_variant_suite", """
WITH j AS (
  SELECT o_orderkey,
         '{"status":"' || o_orderstatus || '","price":' ||
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) ||
         ',"nums":[3,7,11]}' AS doc
  FROM orders)
SELECT o_orderkey,
       json_extract_string(doc, '$.status') AS status,
       CAST(json_extract(doc, '$.price') AS DOUBLE) AS price,
       CAST(json_extract(doc, '$.nums[2]') AS INT) AS third_num,
       CAST(json_extract(doc, '$.missing') IS NULL AS BOOLEAN) AS miss
FROM j""")
def scalar_variant_suite(spark, sf_dir):
    """The VARIANT semi-structured type (Spark 4 ``parse_json`` +
    ``variant_get``) — the shredded-binary successor to
    string-JSON-with-get_json_object (scalar_json_suite): parse once
    into VARIANT, then typed path extraction per field.  At 100 TB the
    difference is structural: VARIANT decodes the document ONCE into a
    binary form whose fields extract without re-parsing, and the
    encoding is columnar-shreddable.  try_variant_get on a missing
    path yields NULL (checked).  The oracle runs the same paths with
    DuckDB's JSON extraction."""
    o = load_table(spark, sf_dir, "orders")
    doc = F.concat(
        F.lit('{"status":"'), F.col("o_orderstatus"), F.lit('","price":'),
        F.col("o_totalprice").cast("decimal(18,2)").cast("string"),
        F.lit(',"nums":[3,7,11]}'))
    v = o.select("o_orderkey", F.parse_json(doc).alias("v"))
    return v.select(
        "o_orderkey",
        F.variant_get(F.col("v"), "$.status", "string").alias("status"),
        F.variant_get(F.col("v"), "$.price", "double").alias("price"),
        F.variant_get(F.col("v"), "$.nums[2]", "int").alias("third_num"),
        F.try_variant_get(F.col("v"), "$.missing", "string").isNull()
        .alias("miss"))


@q("agg_grouping_sets", """
SELECT CAST(grouping(o_orderstatus) AS INT) AS g_status,
       CAST(grouping(o_orderpriority) AS INT) AS g_prio,
       o_orderstatus, o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
            AS BIGINT) AS cents
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                        (o_orderstatus), ())""")
def agg_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS (the custom-combination form next to the
    CUBE and ROLLUP entries — a CUBE would also emit the
    (priority)-only layer this report does NOT want): three chosen
    layers in ONE pass — Spark plans a single Expand below one
    partial hash-agg, so map-side combine stays intact and the fact
    is read once, not once per layer.  Money in exact int64 cents."""
    ev = load_table(spark, sf_dir, "orders")
    ev.createOrReplaceTempView("__gsets_orders")
    return spark.sql("""
        SELECT CAST(grouping(o_orderstatus) AS INT) AS g_status,
               CAST(grouping(o_orderpriority) AS INT) AS g_prio,
               o_orderstatus, o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS cents
        FROM __gsets_orders
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                (o_orderstatus), ())""")


@q("quality_completeness_profile", """
SELECT 'c_name' AS col,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN c_name IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_null,
       CAST(SUM(CASE WHEN trim(COALESCE(c_name, '')) = ''
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_blank
FROM customer
UNION ALL
SELECT 'c_mktsegment',
       CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CASE WHEN c_mktsegment IS NULL THEN 1 ELSE 0 END)
            AS BIGINT),
       CAST(SUM(CASE WHEN trim(COALESCE(c_mktsegment, '')) = ''
                     THEN 1 ELSE 0 END) AS BIGINT)
FROM customer
UNION ALL
SELECT 'c_acctbal',
       CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CASE WHEN c_acctbal IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(0 AS BIGINT)
FROM customer""")
def quality_completeness_profile(spark, sf_dir):
    """Deequ-style completeness profile (null + blank rates per
    column) in ONE scan — the unpivot trick catalog_analyze_columns
    uses for NDV, here for completeness: per-column indicator sums
    ride a single aggregation instead of one scan per column (the
    naive loop is C scans of a 100 TB table).  The oracle spells the
    same sums column by column."""
    c = load_table(spark, sf_dir, "customer")
    # one scan, one aggregate row carrying all the sums, then a
    # 1-row → 3-row driver-free reshape via stack
    a = c.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("c_name").isNull(), 1).otherwise(0))
        .cast("long").alias("null_name"),
        F.sum(F.when(F.trim(F.coalesce(F.col("c_name"), F.lit(""))) == "",
                     1).otherwise(0)).cast("long").alias("blank_name"),
        F.sum(F.when(F.col("c_mktsegment").isNull(), 1).otherwise(0))
        .cast("long").alias("null_seg"),
        F.sum(F.when(F.trim(F.coalesce(F.col("c_mktsegment"), F.lit("")))
                     == "", 1).otherwise(0)).cast("long")
        .alias("blank_seg"),
        F.sum(F.when(F.col("c_acctbal").isNull(), 1).otherwise(0))
        .cast("long").alias("null_bal"))
    return a.selectExpr("""stack(3,
        'c_name', n, null_name, blank_name,
        'c_mktsegment', n, null_seg, blank_seg,
        'c_acctbal', n, null_bal, CAST(0 AS BIGINT))
        AS (col, n, n_null, n_blank)""")


@q("src_fixed_width_ingest", """
SELECT o_orderkey,
       o_orderstatus,
       CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price,
       o_orderpriority
FROM orders WHERE o_orderkey % 25 = 0""")
def src_fixed_width_ingest(spark, sf_dir):
    """Fixed-width (COBOL-extract style) file ingestion — the bank
    batch format the reference's CSV jobs eventually meet: write a
    deterministic fixed-width rendering of an orders slice (key 12 |
    status 1 | price 16 zero-padded decimal | priority 15), read it
    back with ``spark.read.text`` + pure substring/trim/cast
    projections — ALL whole-stage-codegen expressions, no UDF, and
    the text source splits by line so the parse parallelizes like any
    scan.  Price goes through DECIMAL(18,2) text both ways, so the
    roundtrip is exact; the oracle recomputes the slice from orders."""
    o = (load_table(spark, sf_dir, "orders")
         .filter(F.col("o_orderkey") % 25 == 0))
    line = F.concat(
        F.lpad(F.col("o_orderkey").cast("string"), 12, "0"),
        F.col("o_orderstatus"),
        F.lpad(F.col("o_totalprice").cast("decimal(18,2)").cast("string"),
               16, "0"),
        F.rpad(F.col("o_orderpriority"), 15, " "))
    path = _scratch(sf_dir, "orders_fixed_width")
    o.select(line.alias("value")).write.mode("overwrite").text(path)
    raw = spark.read.text(path)
    return raw.select(
        F.substring("value", 1, 12).cast("long").alias("o_orderkey"),
        F.substring("value", 13, 1).alias("o_orderstatus"),
        F.substring("value", 14, 16).cast("decimal(18,2)")
        .cast("double").alias("price"),
        F.rtrim(F.substring("value", 30, 15)).alias("o_orderpriority"))


@q("src_csv_multiline_quoted", """
SELECT c_custkey, c_name || chr(10) || c_mktsegment AS note, c_acctbal
FROM customer WHERE c_custkey % 10 = 0""")
def src_csv_multiline_quoted(spark, sf_dir):
    """Quoted-newline CSV roundtrip (``multiLine=true``) — the reader
    behavior that separates a toy CSV parser from a real one: records
    whose quoted fields EMBED newlines span physical lines, so the
    reader must parse quote state across line boundaries.  (Scale
    note, documented trade-off: multiLine CSV files are not
    line-splittable — Spark reads each file whole, so the writer's
    partitioning sets the read parallelism; keep multiline extracts
    in many small files.)  The oracle recomputes the embedded-newline
    note from customer."""
    c = (load_table(spark, sf_dir, "customer")
         .filter(F.col("c_custkey") % 10 == 0)
         .select("c_custkey",
                 F.concat(F.col("c_name"), F.lit("\n"),
                          F.col("c_mktsegment")).alias("note"),
                 "c_acctbal"))
    path = _scratch(sf_dir, "customer_multiline_csv")
    (c.repartition(4).write.mode("overwrite")
     .option("header", "true").option("quoteAll", "true").csv(path))
    return (spark.read.option("header", "true").option("multiLine", "true")
            .option("inferSchema", "false").csv(path)
            .select(F.col("c_custkey").cast("long").alias("c_custkey"),
                    F.col("note"),
                    F.col("c_acctbal").cast("double").alias("c_acctbal")))


@q("udf_cogroup_apply", """
WITH o AS (
  SELECT o_custkey, COUNT(*) AS n_orders,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS cents
  FROM orders GROUP BY o_custkey)
SELECT c.c_custkey,
       CAST(COALESCE(o.n_orders, 0) AS BIGINT) AS n_orders,
       CAST(COALESCE(o.cents, 0) AS BIGINT) AS cents,
       c.c_acctbal
FROM customer c LEFT JOIN o ON o.o_custkey = c.c_custkey""")
def udf_cogroup_apply(spark, sf_dir):
    """The COGROUP Python surface (§2.12's last uncovered shape):
    ``df.groupBy(k).cogroup(other.groupBy(k)).applyInPandas`` hands
    each key's rows from BOTH frames to one Arrow-batched pandas
    callable — the escape hatch for per-key merge logic SQL can't
    express (custom asof/interleave).  Here the callable computes a
    per-customer order rollup joined to the customer row, and the
    oracle is the equivalent LEFT JOIN + GROUP BY — proving the
    cogroup path exact (int64 cents, no float accumulation in
    Python).  Scale shape: ONE co-partitioned shuffle of both sides
    on the key (exactly what a join would shuffle), Arrow transfer,
    state bounded by one key's rows."""
    import pandas as pd

    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal")
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
        .alias("cents"))

    def merge(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if left.empty:          # order rows for a custkey not in customer
            return pd.DataFrame(columns=["c_custkey", "n_orders",
                                         "cents", "c_acctbal"])
        return pd.DataFrame({
            "c_custkey": [int(left["c_custkey"].iloc[0])],
            "n_orders": [int(len(right))],
            "cents": [int(right["cents"].sum()) if len(right) else 0],
            "c_acctbal": [float(left["c_acctbal"].iloc[0])]})

    return (c.groupBy("c_custkey").cogroup(o.groupBy("o_custkey"))
            .applyInPandas(merge, "c_custkey long, n_orders long, "
                                  "cents long, c_acctbal double"))


@q("scalar_na_suite", """
WITH s AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_mktsegment END
           AS seg,
         CASE WHEN c_custkey % 11 = 0 THEN NULL ELSE c_acctbal END
           AS bal
  FROM customer)
SELECT c_custkey,
       COALESCE(seg, 'UNKNOWN') AS seg_filled,
       COALESCE(bal, 0.0) AS bal_filled,
       CASE WHEN COALESCE(seg, 'UNKNOWN') = 'BUILDING'
            THEN 'CONSTRUCTION' ELSE COALESCE(seg, 'UNKNOWN') END
         AS seg_replaced,
       (seg IS NOT NULL AND bal IS NOT NULL) AS complete
FROM s""")
def scalar_na_suite(spark, sf_dir):
    """The DataFrameNaFunctions surface (``df.na.fill`` / ``na.replace``)
    — the missing-data API layer over the COALESCE/CASE expressions it
    compiles to (planted NULLs on %7/%11 keys so both branches carry
    rows): typed per-column fills in one pass, a value-level replace,
    and a row-completeness flag.  Everything stays a map-only
    projection; the oracle writes the compiled-to expressions
    directly."""
    c = load_table(spark, sf_dir, "customer")
    s = c.select(
        "c_custkey",
        F.when(F.col("c_custkey") % 7 == 0, None)
        .otherwise(F.col("c_mktsegment")).alias("seg"),
        F.when(F.col("c_custkey") % 11 == 0, None)
        .otherwise(F.col("c_acctbal")).alias("bal"))
    complete = (F.col("seg").isNotNull()
                & F.col("bal").isNotNull()).alias("complete")
    s = s.select("*", complete)
    # fill, then replace on a COPY of the filled column — both na.*
    # surfaces exercised with zero joins (the whole entry stays one
    # map-only projection; a self-join here would be pure waste at
    # any scale)
    filled = (s.na.fill({"seg": "UNKNOWN", "bal": 0.0})
              .withColumn("seg_replaced", F.col("seg")))
    replaced = filled.na.replace("BUILDING", "CONSTRUCTION",
                                 subset=["seg_replaced"])
    return replaced.select(
        "c_custkey", F.col("seg").alias("seg_filled"),
        F.col("bal").alias("bal_filled"), "seg_replaced", "complete")


@q("scalar_map_suite", """
WITH t AS (
  SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY user_id, event_type)
SELECT user_id,
       string_agg(event_type || ':' || CAST(n AS VARCHAR), ','
                  ORDER BY event_type) AS type_counts,
       string_agg(CASE WHEN n >= 3
                       THEN event_type || ':' || CAST(n * 10 AS VARCHAR)
                  END, ',' ORDER BY event_type) AS hot_scaled,
       CAST(MAX(n) AS BIGINT) AS max_n
FROM t GROUP BY user_id""")
def scalar_map_suite(spark, sf_dir):
    """MAP higher-order functions (§2.8 completion next to the array
    HOF suite): per-user event-type counts built into a real
    ``map<string,bigint>`` with ``map_from_entries``, then
    ``map_filter`` (keep hot types), ``transform_values`` (scale),
    ``map_entries`` + sort + serialize (the driver canon cannot hash
    maps, so entries render as ordered ``k:v`` strings — empty maps
    as NULL to match SQL's empty string_agg), and ``array_max`` over
    ``map_values``.  All lambdas JVM-side; one shuffle for the
    (user, type) agg, one for the per-user map build."""
    ev = load_table(spark, sf_dir, "events")
    t = (ev.groupBy("user_id", "event_type")
         .agg(F.count(F.lit(1)).alias("n")))
    m = (t.groupBy("user_id")
         .agg(F.map_from_entries(
             F.array_sort(F.collect_list(F.struct("event_type", "n"))))
             .alias("mp")))

    def render(mp):
        ent = F.array_sort(F.map_entries(mp))
        joined = F.array_join(
            F.transform(ent, lambda e: F.concat(
                e["key"], F.lit(":"), e["value"].cast("string"))), ",")
        return F.when(F.size(F.map_entries(mp)) == 0, F.lit(None)) \
            .otherwise(joined)

    hot = F.transform_values(
        F.map_filter(F.col("mp"), lambda k, v: v >= 3),
        lambda k, v: v * 10)
    return m.select(
        "user_id",
        render(F.col("mp")).alias("type_counts"),
        render(hot).alias("hot_scaled"),
        F.array_max(F.map_values("mp")).cast("long").alias("max_n"))


@q("join_lateral_topk", """
SELECT c.c_custkey, c.c_name, l.o_orderkey, l.o_totalprice
FROM customer c, LATERAL (
  SELECT o_orderkey, o_totalprice FROM orders
  WHERE o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) l""")
def join_lateral_topk(spark, sf_dir):
    """Correlated LATERAL join (the Spark 4 ``DataFrame.lateralJoin``
    API): top-2 orders per customer written as a per-row correlated
    subquery with ORDER BY + LIMIT.  The scale story is the plan, not
    the API: Catalyst DECORRELATES it — the executed plan is
    WindowGroupLimit (partial top-k per key BEFORE the shuffle, final
    after) + one broadcast hash join, i.e. exactly the
    row_number()-filter rewrite a careful engineer would hand-write,
    never a per-customer nested loop.  Plan shape pinned in
    tests/test_modern_api.py; the oracle is DuckDB's native LATERAL."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    o = load_table(spark, sf_dir, "orders")
    sub = (o.where(F.col("o_custkey") == F.col("c_custkey").outer())
           .orderBy(F.desc("o_totalprice"), "o_orderkey").limit(2)
           .select("o_orderkey", "o_totalprice"))
    return c.lateralJoin(sub)


@q("scalar_exists_subqueries", """
SELECT c.c_custkey,
       (SELECT CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT)
        FROM orders WHERE o_custkey = c.c_custkey) AS total_spend_cents,
       EXISTS (SELECT 1 FROM orders
               WHERE o_custkey = c.c_custkey
                 AND o_totalprice > 300000) AS has_big
FROM customer c""")
def scalar_exists_subqueries(spark, sf_dir):
    """Correlated SCALAR and EXISTS subqueries through the Spark 4
    column-builder APIs (``DataFrame.scalar()`` / ``.exists()``) —
    the declarative form of per-row lookups.  Catalyst decorrelates
    both into aggregate-then-join (one hash-agg over orders + left
    joins), so the plan scales as two shuffles regardless of customer
    count — never a per-row probe.

    The money sum is emitted through the INTEGER-CENTS canon
    (``floor(x*100 + 0.5)`` summed as BIGINT — identical double
    arithmetic on both engines): the r12 bisection proved the driver
    environment's bitwise hash diverges on DECIMAL *values* (decimal
    and NULL-free-decimal probes red, bool and cents probes green,
    all four locally repr-identical vs DuckDB), so a DECIMAL(18,2)
    output column can never be driver-hash-safe regardless of engine
    agreement.  Customers with no orders surface NULL cents and FALSE
    exists on both engines."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    corr = F.col("c_custkey").outer()
    spend = (o.where(F.col("o_custkey") == corr)
             .select(F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5)
                           .cast("long")).cast("long").alias("s")))
    big = o.where((F.col("o_custkey") == corr)
                  & (F.col("o_totalprice") > 300000))
    return c.select("c_custkey",
                    spend.scalar().alias("total_spend_cents"),
                    big.exists().alias("has_big"))


@q("ops_transpose_metrics", """
WITH m AS (
  SELECT o_orderstatus,
         CAST(COUNT(*) AS DOUBLE) AS n_orders,
         CAST(COUNT(DISTINCT o_custkey) AS DOUBLE) AS n_custs
  FROM orders GROUP BY o_orderstatus)
SELECT 'n_orders' AS key,
       MAX(CASE WHEN o_orderstatus = 'F' THEN n_orders END) AS F,
       MAX(CASE WHEN o_orderstatus = 'O' THEN n_orders END) AS O,
       MAX(CASE WHEN o_orderstatus = 'P' THEN n_orders END) AS P
FROM m
UNION ALL
SELECT 'n_custs',
       MAX(CASE WHEN o_orderstatus = 'F' THEN n_custs END),
       MAX(CASE WHEN o_orderstatus = 'O' THEN n_custs END),
       MAX(CASE WHEN o_orderstatus = 'P' THEN n_custs END)
FROM m""")
def ops_transpose_metrics(spark, sf_dir):
    """``DataFrame.transpose()`` (Spark 4) flipping a BOUNDED metrics
    frame — the profile-report reshape (metrics as rows, groups as
    columns).  Transpose derives column names from DATA (first
    column's values), so it is a driver-bounded operation by
    construction: legal only on frames already reduced to
    group-cardinality size (here 3 order statuses × 2 metrics from
    one hash-agg); the big-data reshape remains pivot/groupBy.  The
    oracle builds the transposed layout with conditional aggregation."""
    o = load_table(spark, sf_dir, "orders")
    m = (o.groupBy("o_orderstatus")
         .agg(F.count(F.lit(1)).cast("double").alias("n_orders"),
              F.countDistinct("o_custkey").cast("double").alias("n_custs"))
         .orderBy("o_orderstatus"))
    return m.transpose()


@q("arrow_native_quantized_norm", """
SELECT vec_id,
       CAST(list_sum(list_transform(embedding,
            x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)
                 * CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)))
            AS BIGINT) AS q_norm2
FROM embeddings""")
def arrow_native_quantized_norm(spark, sf_dir):
    """``DataFrame.mapInArrow`` — the zero-copy Arrow-native batch
    path UNDER mapInPandas (no pandas materialization, no NaN→null
    masking, list columns stay Arrow buffers): per-vector squared
    norm over component values quantized to int64 with the
    floor(x·1000+0.5) canon, so the per-row sum is exact integer
    arithmetic on both engines (the k-means recipe).  The UDF slices
    the FixedSizeList/List child buffer directly into one numpy
    reshape+einsum per RecordBatch — columnar end to end, map-only,
    no shuffle."""
    from aws_etl_bank_spark.llm.arrowops import quantized_norms

    emb = load_table(spark, sf_dir, "embeddings")
    return quantized_norms(emb, "embedding", "vec_id", scale=1000)


@q("scalar_try_suite", """
SELECT o_orderkey,
       CASE WHEN o_orderkey % 5 = 0 THEN NULL
            ELSE floor(o_totalprice / (o_orderkey % 5) * 10000 + 0.5)
                 / 10000 END AS safe_ratio,
       CASE WHEN o_orderkey % 2 = 1 THEN NULL
            ELSE 9223372036854775807 END AS add_sat,
       CASE o_orderkey % 4 WHEN 0 THEN 0
            WHEN 1 THEN 4611686018427387904 ELSE NULL END AS mul_sat,
       CASE WHEN o_orderkey % 3 = 0 THEN NULL
            ELSE o_orderkey END AS cast_back,
       CASE o_orderkey % 3
            WHEN 0 THEN string_split(o_orderpriority, '-')[1]
            WHEN 1 THEN string_split(o_orderpriority, '-')[2]
            ELSE NULL END AS prio_part
FROM orders""")
def scalar_try_suite(spark, sf_dir):
    """The ANSI error-safe ``try_*`` function family (§2.8 next to the
    na/map/HOF suites): try_divide (NULL on zero divisor), try_add /
    try_multiply (NULL on int64 overflow — exercised with literals at
    the saturation boundary), try_cast (NULL on a non-numeric string,
    the ingest-coercion workhorse), and try_element_at (NULL on an
    out-of-bounds index, where plain element_at raises; index 0 is a
    hard INVALID_INDEX_OF_ZERO error even under try_, pinned in tests).  The oracle
    states each expected value directly (CASE over the same key
    arithmetic), so a behavior change in any try_ fallback — e.g. an
    overflow wrapping instead of NULLing — breaks the hash.  Pure
    projection: map-only, whole-stage codegen, no shuffle."""
    o = load_table(spark, sf_dir, "orders")
    return o.selectExpr(
        "o_orderkey",
        "floor(try_divide(CAST(o_totalprice AS DOUBLE),"
        "       CAST(o_orderkey % 5 AS DOUBLE)) * 10000 + 0.5) / 10000"
        " AS safe_ratio",
        "try_add(9223372036854775807, o_orderkey % 2) AS add_sat",
        "try_multiply(4611686018427387904, o_orderkey % 4) AS mul_sat",
        "try_cast(CASE WHEN o_orderkey % 3 = 0 THEN o_orderstatus"
        "              ELSE CAST(o_orderkey AS STRING) END AS BIGINT)"
        " AS cast_back",
        "try_element_at(split(o_orderpriority, '-'),"
        "               1 + CAST(o_orderkey % 3 AS INT)) AS prio_part")


@q("agg_listagg_ordered", """
SELECT o_orderpriority,
       string_agg(o_orderstatus, ',' ORDER BY o_orderkey) AS status_seq,
       string_agg(DISTINCT o_orderstatus, ','
                  ORDER BY o_orderstatus) AS status_set,
       CAST(COUNT(*) AS BIGINT) AS n
FROM orders WHERE o_orderkey % 97 = 0
GROUP BY o_orderpriority""")
def agg_listagg_ordered(spark, sf_dir):
    """``listagg(...) WITHIN GROUP (ORDER BY ...)`` (Spark 4's ANSI
    ordered string aggregation, §2.4/§2.8) in both plain and DISTINCT
    forms against DuckDB's ``string_agg(... ORDER BY ...)``.  The
    WITHIN GROUP ordering makes the concatenation deterministic — the
    whole point of the surface vs. collect_list+array_join, whose
    order is partition-dependent.  Driven on a key-sampled subset
    (%97) so group strings stay KB-bounded at any SF: unbounded
    per-group concatenation is an anti-pattern at 100 TB — the scale
    form caps with slice(sort_array(collect_list(...)), 1, k)."""
    o = load_table(spark, sf_dir, "orders").where("o_orderkey % 97 = 0")
    o.createOrReplaceTempView("__listagg_src")
    return spark.sql("""
        SELECT o_orderpriority,
               listagg(o_orderstatus, ',')
                   WITHIN GROUP (ORDER BY o_orderkey) AS status_seq,
               listagg(DISTINCT o_orderstatus, ',')
                   WITHIN GROUP (ORDER BY o_orderstatus) AS status_set,
               COUNT(*) AS n
        FROM __listagg_src GROUP BY o_orderpriority""")


@q("agg_hll_sketch_bound", """
SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_exact,
       TRUE AS est_ok
FROM orders""")
def agg_hll_sketch_bound(spark, sf_dir):
    """The BUILT-IN Apache DataSketches HLL surface (Spark 3.5+:
    hll_sketch_agg → hll_union_agg → hll_sketch_estimate) next to the
    from-scratch HLL in functions/scale.py: per-status sketches union
    into a global distinct-customer estimate.  HLL registers are
    max-per-bucket, so the estimate is a pure function of the value
    SET — deterministic under any partitioning — and DuckDB cannot
    reproduce the DataSketches estimator bit-for-bit, so the oracle
    checks the ACCURACY CONTRACT instead: at lgK=14 (σ≈0.8%) the
    estimate must sit within ±3% of the exact count, asserted as a
    hashed boolean next to the exact count itself.  Mergeability
    (union of per-group sketches == sketch of the union) is exactly
    what makes sketches the 100 TB path: partial aggregation
    map-side, constant-size state per group."""
    o = load_table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("__hll_src")
    return spark.sql("""
        WITH s AS (SELECT o_orderstatus, hll_sketch_agg(o_custkey, 14) AS sk
                   FROM __hll_src GROUP BY o_orderstatus),
             e AS (SELECT hll_sketch_estimate(hll_union_agg(sk)) AS est
                   FROM s),
             x AS (SELECT COUNT(DISTINCT o_custkey) AS n_exact
                   FROM __hll_src)
        SELECT CAST(x.n_exact AS BIGINT) AS n_exact,
               abs(CAST(e.est AS DOUBLE) / x.n_exact - 1.0) <= 0.03
                   AS est_ok
        FROM e, x""")


@q("agg_kll_quantile_bound", """
WITH x AS (
  SELECT quantile_cont(o_totalprice, 0.50) AS q50_exact,
         quantile_cont(o_totalprice, 0.95) AS q95_exact,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM orders)
SELECT n, TRUE AS q50_ok, TRUE AS q95_ok FROM x""")
def agg_kll_quantile_bound(spark, sf_dir):
    """The BUILT-IN Apache DataSketches KLL quantile sketch (Spark
    3.5+: kll_sketch_agg_double → kll_sketch_merge_double →
    kll_sketch_get_quantile_double) — the MERGEABLE quantile path that
    replaces a global sort at 100 TB: per-status sketches (map-side
    partials, O(k) state) merge into global p50/p95 estimates.  KLL's
    guarantee is on RANK, not value: at the default k=200 the rank
    error is ≤ ~1.65% (two-sided, 99% conf; Karnin-Lang-Liberty 2016),
    so the oracle checks the accuracy CONTRACT — the estimated
    quantile's exact rank must sit within ±2.5% of the target rank —
    as hashed booleans next to the row count.  Merge order is pinned
    by sorting the per-group sketches on the group key before the
    fold, so the final sketch bytes — and the booleans — are
    deterministic under any partitioning."""
    o = load_table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("__kll_src")
    return spark.sql("""
        WITH s AS (SELECT o_orderstatus,
                          kll_sketch_agg_double(o_totalprice) AS sk
                   FROM __kll_src GROUP BY o_orderstatus),
             m AS (SELECT aggregate(
                            slice(sks, 2, size(sks) - 1),
                            element_at(sks, 1),
                            (acc, x) -> kll_sketch_merge_double(acc, x))
                          AS sk
                   -- sort by group key so the merge ORDER (and thus
                   -- the exact sketch bytes) is deterministic, not
                   -- collect_list arrival order
                   FROM (SELECT transform(
                           array_sort(collect_list(
                             struct(o_orderstatus, sk))),
                           p -> p.sk) AS sks
                         FROM s)),
             q AS (SELECT
                     kll_sketch_get_quantile_double(sk, 0.50) AS q50,
                     kll_sketch_get_quantile_double(sk, 0.95) AS q95
                   FROM m),
             r AS (SELECT
                     CAST(COUNT(*) AS BIGINT) AS n,
                     SUM(CASE WHEN o_totalprice <= q.q50
                              THEN 1 ELSE 0 END) / COUNT(*) AS rank50,
                     SUM(CASE WHEN o_totalprice <= q.q95
                              THEN 1 ELSE 0 END) / COUNT(*) AS rank95
                   FROM __kll_src, q GROUP BY q.q50, q.q95)
        SELECT n,
               abs(rank50 - 0.50) <= 0.025 AS q50_ok,
               abs(rank95 - 0.95) <= 0.025 AS q95_ok
        FROM r""")


@q("sql_recursive_cte_walk", """
WITH RECURSIVE walk(vec_id, head, depth) AS (
  SELECT vec_id, vec_id AS head, 0 AS depth
  FROM embeddings WHERE vec_id % 100 = 0
  UNION ALL
  SELECT e.vec_id, w.head, w.depth + 1
  FROM walk w JOIN embeddings e ON e.vec_id = w.vec_id + 1
  WHERE w.depth < 40)
SELECT CAST(head AS BIGINT) AS head,
       CAST(COUNT(*) AS BIGINT) AS n_reached,
       CAST(MAX(depth) AS INT) AS max_depth
FROM walk GROUP BY head""")
def sql_recursive_cte_walk(spark, sf_dir):
    """``WITH RECURSIVE`` (new in this Spark 4 build — probed and
    adopted r11): a bounded successor-chain walk from every 100th
    vec_id, UNION ALL recursion with a per-step equi-join and an
    explicit depth < 40 guard (the engine's recursion-level limit
    defaults to 100; unbounded linear recursion is the wrong tool on
    a cluster anyway — diameter-scale traversals belong to the
    pointer-doubling / star-contraction entries, which this entry's
    docstring exists to contrast).  Output is per-head reach counts,
    identical recursion semantics on DuckDB's native recursive CTE."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id")
    emb.createOrReplaceTempView("__rcte_emb")
    return spark.sql("""
        WITH RECURSIVE walk(vec_id, head, depth) AS (
          SELECT vec_id, vec_id AS head, 0 AS depth
          FROM __rcte_emb WHERE vec_id % 100 = 0
          UNION ALL
          SELECT e.vec_id, w.head, w.depth + 1
          FROM walk w JOIN __rcte_emb e ON e.vec_id = w.vec_id + 1
          WHERE w.depth < 40)
        SELECT CAST(head AS BIGINT) AS head,
               COUNT(*) AS n_reached,
               CAST(MAX(depth) AS INT) AS max_depth
        FROM walk GROUP BY head""")


@q("udtf_table_argument_agg", """
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
            AS BIGINT) AS total_cents
FROM orders GROUP BY o_orderstatus""")
def udtf_table_argument_agg(spark, sf_dir):
    """Python UDTF with a TABLE argument + PARTITION BY (the Spark 4
    polymorphic table function surface, next to the lateral-view UDTF
    udtf_sentence_split): each o_orderstatus partition streams through
    one UDTF instance (eval per row, terminate yields the partition
    aggregate), Arrow-batched.  Money is folded as exact integer cents
    (floor(p·100+0.5)) so the Python accumulation matches the SQL
    oracle bit-for-bit.  Scale shape: PARTITION BY is one shuffle with
    |groups| parallelism — legal here (3 statuses × bounded state);
    the general high-cardinality aggregate stays groupBy/agg."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="o_orderstatus string, n bigint, total_cents bigint")
    class StatusAgg:
        def __init__(self):
            self.key = None
            self.n = 0
            self.cents = 0

        def eval(self, row):
            import math
            self.key = row["o_orderstatus"]
            self.n += 1
            self.cents += int(math.floor(row["o_totalprice"] * 100 + 0.5))

        def terminate(self):
            if self.n:
                yield self.key, self.n, self.cents

    spark.udtf.register("__status_agg", StatusAgg)
    o = load_table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("__udtf_orders")
    return spark.sql("""
        SELECT * FROM __status_agg(
          TABLE(SELECT o_orderstatus, o_totalprice FROM __udtf_orders)
          PARTITION BY o_orderstatus)""")


@q("agg_theta_sketch_setops", """
WITH a AS (SELECT DISTINCT o_custkey % 2000 AS v FROM orders
           WHERE o_orderstatus = 'F'),
     b AS (SELECT DISTINCT o_custkey % 2000 AS v FROM orders
           WHERE o_orderstatus = 'O')
SELECT CAST((SELECT COUNT(*) FROM (SELECT v FROM a UNION SELECT v FROM b))
            AS BIGINT) AS n_union,
       CAST((SELECT COUNT(*) FROM (SELECT v FROM a INTERSECT
                                   SELECT v FROM b)) AS BIGINT) AS n_inter,
       CAST((SELECT COUNT(*) FROM (SELECT v FROM a EXCEPT
                                   SELECT v FROM b)) AS BIGINT) AS n_diff""")
def agg_theta_sketch_setops(spark, sf_dir):
    """Apache DataSketches THETA sketches — the sketch family that
    supports full SET ALGEBRA (union / intersection / A-not-B), i.e.
    audience-overlap analytics without ever materializing the sets:
    per-status customer-id sketches combine with theta_union /
    theta_intersection / theta_difference.  The value domain is
    projected to % 2000 so both sketches stay in EXACT mode (< k=4096
    retained hashes) — estimates are then exact integers and the
    oracle is plain distinct set algebra; above k the same plan
    degrades gracefully to ±1.6% estimates at CONSTANT memory, which
    is the 100 TB story (set intersection of two 10-billion-row
    audiences in two sketch scans + a driver-side combine)."""
    o = load_table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("__theta_src")
    return spark.sql("""
        WITH a AS (SELECT theta_sketch_agg(o_custkey % 2000) AS sk
                   FROM __theta_src WHERE o_orderstatus = 'F'),
             b AS (SELECT theta_sketch_agg(o_custkey % 2000) AS sk
                   FROM __theta_src WHERE o_orderstatus = 'O')
        SELECT CAST(theta_sketch_estimate(theta_union(a.sk, b.sk))
                    AS BIGINT) AS n_union,
               CAST(theta_sketch_estimate(theta_intersection(a.sk, b.sk))
                    AS BIGINT) AS n_inter,
               CAST(theta_sketch_estimate(theta_difference(a.sk, b.sk))
                    AS BIGINT) AS n_diff
        FROM a, b""")


@q("agg_bitmap_distinct_exact", """
SELECT o_orderpriority,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_cust
FROM orders GROUP BY o_orderpriority""")
def agg_bitmap_distinct_exact(spark, sf_dir):
    """The built-in BITMAP aggregate surface (Spark 3.5:
    bitmap_bucket_number / bitmap_bit_position / bitmap_construct_agg
    / bitmap_count) doing EXACT distinct counts as two cheap
    hash-aggs: keys bucket into fixed 32k-bit bitmap rows, per-bucket
    bitmaps OR together map-side, and the per-group distinct count is
    the SUM of per-bucket popcounts — the roaring-bitmap pattern next
    to functions/scale.py's custom bitmap retention entry.  Exact at
    every scale (no estimate), shuffle volume = populated buckets ×
    4 KiB, never the raw key stream."""
    o = load_table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("__bm_src")
    return spark.sql("""
        WITH per_bucket AS (
          SELECT o_orderpriority,
                 bitmap_bucket_number(o_custkey) AS bk,
                 bitmap_construct_agg(bitmap_bit_position(o_custkey)) AS bm
          FROM __bm_src GROUP BY o_orderpriority, bk)
        SELECT o_orderpriority,
               SUM(bitmap_count(bm)) AS n_cust
        FROM per_bucket GROUP BY o_orderpriority""")


@q("agg_regr_family", """
WITH t AS (SELECT o_orderkey % 1000 AS x,
                  2 * (o_orderkey % 1000) + (o_orderkey % 7) AS y
           FROM orders)
SELECT ROUND(regr_slope(y, x), 6) + 0 AS slope,
       ROUND(regr_intercept(y, x), 6) + 0 AS intercept,
       ROUND(regr_r2(y, x), 6) + 0 AS r2,
       CAST(regr_count(y, x) AS BIGINT) AS n,
       ROUND(regr_avgx(y, x), 6) + 0 AS avgx,
       ROUND(regr_avgy(y, x), 6) + 0 AS avgy
FROM t""")
def agg_regr_family(spark, sf_dir):
    """ANSI linear-regression aggregates (regr_slope / intercept / r2
    / count / avgx / avgy) over integer-valued x,y derived from the
    order key (y = 2x + key%7 noise, so the fit is strong but not
    perfect and r² is a real fraction).  Integer inputs keep every
    raw sum exact in double; the final ratios differ between engines
    only in the last ulps (each engine's own streaming accumulation),
    absorbed by the ROUND(...,6)+0 canon — output-only, never a key
    (the standing libm/tie rule).  One combineable hash-agg, the
    sufficient-statistics shape that scales to any row count."""
    o = load_table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("__regr_src")
    return spark.sql("""
        WITH t AS (SELECT o_orderkey % 1000 AS x,
                          2 * (o_orderkey % 1000) + (o_orderkey % 7) AS y
                   FROM __regr_src)
        SELECT ROUND(regr_slope(y, x), 6) + 0 AS slope,
               ROUND(regr_intercept(y, x), 6) + 0 AS intercept,
               ROUND(regr_r2(y, x), 6) + 0 AS r2,
               regr_count(y, x) AS n,
               ROUND(regr_avgx(y, x), 6) + 0 AS avgx,
               ROUND(regr_avgy(y, x), 6) + 0 AS avgy
        FROM t""")


@q("quality_mask_pii", """
SELECT c_custkey,
       regexp_replace(regexp_replace(regexp_replace(c_name,
           '[A-Z]', 'X', 'g'), '[a-z]', 'x', 'g'), '[0-9]', 'n', 'g')
           AS masked_default,
       regexp_replace(regexp_replace(regexp_replace(regexp_replace(c_name,
           '[A-Z]', 'U', 'g'), '[a-z]', 'l', 'g'), '[0-9]', 'D', 'g'),
           '[^UlD]', '*', 'g') AS masked_custom
FROM customer""")
def quality_mask_pii(spark, sf_dir):
    """The ``mask()`` PII-redaction function (§2.8 / the governance
    surface next to quality_k_anonymity and l_diversity): default
    masking (upper→X, lower→x, digit→n, other kept) and fully-custom
    masking (U/l/D and '*' for separators).  The oracle rebuilds both
    maskings with regexp chains — character-class coverage, not just
    row counts, is hash-checked.  Pure projection, codegen, no
    shuffle."""
    c = load_table(spark, sf_dir, "customer")
    return c.selectExpr(
        "c_custkey",
        "mask(c_name) AS masked_default",
        "mask(c_name, 'U', 'l', 'D', '*') AS masked_custom")


@q("scalar_xml_suite", """
SELECT o_orderkey,
       o_orderpriority AS xp_prio,
       o_orderkey AS xml_key,
       o_orderstatus AS xml_status,
       CAST(2 AS INT) AS n_children
FROM orders WHERE o_orderkey % 11 = 0""")
def scalar_xml_suite(spark, sf_dir):
    """XML scalar functions (§2.8, next to the JSON/VARIANT suites;
    the reference's getSource dispatch lists XML as an ingest format):
    documents are BUILT from row data (concat), then re-extracted
    with xpath_string, from_xml (schema'd struct), and xpath counting
    — the oracle is the identity on the original columns, so any
    parse/escape/extraction defect breaks the hash.  Key-sampled
    (%11) to keep the Python-free codegen path the dominant cost."""
    o = load_table(spark, sf_dir, "orders").where("o_orderkey % 11 = 0")
    o.createOrReplaceTempView("__xml_src")
    return spark.sql("""
        WITH x AS (
          SELECT o_orderkey,
                 concat('<o><k>', o_orderkey, '</k><p>', o_orderpriority,
                        '</p><s>', o_orderstatus, '</s></o>') AS doc
          FROM __xml_src)
        SELECT o_orderkey,
               xpath_string(doc, '/o/p') AS xp_prio,
               from_xml(doc, 'k BIGINT, p STRING, s STRING').k AS xml_key,
               from_xml(doc, 'k BIGINT, p STRING, s STRING').s
                   AS xml_status,
               CAST(size(xpath(doc, '/o/*[self::k or self::s]/text()'))
                    AS INT) AS n_children
        FROM x""")


@q("text_url_parse", """
SELECT o_orderkey,
       'h' || CAST(o_custkey % 50 AS VARCHAR) || '.example.com' AS host,
       '/p/' || CAST(o_orderkey AS VARCHAR) AS path,
       o_orderstatus AS q_status,
       o_orderpriority AS dec_roundtrip
FROM orders WHERE o_orderkey % 13 = 0""")
def text_url_parse(spark, sf_dir):
    """URL parsing/encoding (parse_url HOST/PATH/QUERY-key,
    url_encode/url_decode) — the domain-extraction step every
    web-corpus curation pipeline runs before per-host dedup and
    filtering.  URLs are BUILT from row data, re-parsed, and the
    encode→decode roundtrip re-surfaces the raw priority string, so
    the oracle is the identity on the constructing columns.
    Key-sampled; pure codegen projection."""
    o = load_table(spark, sf_dir, "orders").where("o_orderkey % 13 = 0")
    o.createOrReplaceTempView("__url_src")
    return spark.sql("""
        WITH u AS (
          SELECT o_orderkey, o_orderpriority,
                 concat('https://h', o_custkey % 50, '.example.com/p/',
                        o_orderkey, '?s=', o_orderstatus) AS url
          FROM __url_src)
        SELECT o_orderkey,
               parse_url(url, 'HOST') AS host,
               parse_url(url, 'PATH') AS path,
               parse_url(url, 'QUERY', 's') AS q_status,
               url_decode(url_encode(o_orderpriority)) AS dec_roundtrip
        FROM u""")


@q("scalar_digest_suite", """
SELECT c_custkey,
       sha256(c_name) AS sha_hex,
       to_base64(CAST(c_name AS BLOB)) AS b64,
       lower(hex(c_name)) AS hex_bytes,
       c_name AS b64_roundtrip
FROM customer""")
def scalar_digest_suite(spark, sf_dir):
    """Content-digest and binary-encoding functions (§2.8, the
    fingerprint primitives under every dedup/caching scheme): SHA-256
    (cross-engine-identical hex), base64/unbase64 (RFC 4648, asserted
    by the decode roundtrip), and hex byte dumps (case-normalized —
    Spark upper-cases, DuckDB's hex() differs).  md5→int64 is already
    the house join-hash canon (feature_hash_text); this pins the rest
    of the digest surface.  Pure codegen projection."""
    c = load_table(spark, sf_dir, "customer")
    return c.selectExpr(
        "c_custkey",
        "sha2(c_name, 256) AS sha_hex",
        "base64(c_name) AS b64",
        "lower(hex(c_name)) AS hex_bytes",
        "CAST(unbase64(base64(c_name)) AS STRING) AS b64_roundtrip")


@q("scalar_timezone_suite", """
WITH t AS (
  SELECT o_orderkey AS k,
         make_timestamp(CAST(year(o_orderdate) AS BIGINT),
                        CAST(month(o_orderdate) AS BIGINT),
                        CAST(day(o_orderdate) AS BIGINT),
                        CAST(o_orderkey % 24 AS BIGINT),
                        CAST(o_orderkey % 60 AS BIGINT),
                        CAST(o_orderkey % 60 AS DOUBLE)) AS base
  FROM orders WHERE o_orderkey % 17 = 0)
SELECT k, base,
       base + INTERVAL '330 minutes' AS ist,
       base + INTERVAL '8 hours' AS utc_from_pst,
       CAST(epoch(base) AS BIGINT) AS epoch_s
FROM t""")
def scalar_timezone_suite(spark, sf_dir):
    """Timezone arithmetic with FIXED-OFFSET zones (make_timestamp,
    convert_timezone, to_utc_timestamp, unix epoch extraction) — the
    deterministic core of timestamp handling.  Fixed offsets
    ('+05:30', '-08:00') are deliberate: they are pure interval
    shifts both engines agree on byte-for-byte, whereas NAMED zones
    drag in tz-database vintage skew (Java tzdb vs ICU) that no canon
    can reconcile — exactly the distinction a cross-engine pipeline
    must respect.  Session timezone is pinned UTC (session.py), so
    NTZ↔instant casts are identity and the epoch check is pure
    integer math.  Key-sampled; map-only projection."""
    o = load_table(spark, sf_dir, "orders").where("o_orderkey % 17 = 0")
    o.createOrReplaceTempView("__tz_src")
    return spark.sql("""
        WITH t AS (
          SELECT o_orderkey AS k,
                 CAST(make_timestamp(year(o_orderdate), month(o_orderdate),
                                     day(o_orderdate), o_orderkey % 24,
                                     o_orderkey % 60,
                                     CAST(o_orderkey % 60 AS DECIMAL(8,6)))
                      AS TIMESTAMP_NTZ) AS base
          FROM __tz_src)
        SELECT k, base,
               convert_timezone('UTC', '+05:30', base) AS ist,
               CAST(to_utc_timestamp(base, '-08:00') AS TIMESTAMP_NTZ)
                   AS utc_from_pst,
               unix_seconds(CAST(base AS TIMESTAMP)) AS epoch_s
        FROM t""")


@q("scalar_posexplode_outer", """
WITH t AS (SELECT o_orderkey AS k, CAST(o_orderkey % 4 AS INT) AS n
           FROM orders WHERE o_orderkey % 7 = 0)
SELECT k,
       CASE WHEN n = 0 THEN NULL ELSE CAST(g.i - 1 AS INT) END AS pos,
       CASE WHEN n = 0 THEN NULL ELSE CAST(g.i AS INT) END AS v
FROM t LEFT JOIN LATERAL (SELECT unnest(range(1, n + 1)) AS i) AS g
       ON TRUE""")
def scalar_posexplode_outer(spark, sf_dir):
    """NULL-preserving generators (§2.8/§2.9): posexplode_outer emits
    a (NULL, NULL) row for an EMPTY array where plain posexplode
    silently drops the parent row — the row-count-preserving contract
    ETL joins rely on after array expansion.  Empty arrays come from
    the data (key % 4 == 0); the oracle reproduces outer semantics
    with a LEFT LATERAL unnest.  One generate, no shuffle."""
    o = load_table(spark, sf_dir, "orders").where("o_orderkey % 7 = 0")
    o.createOrReplaceTempView("__gen_src")
    return spark.sql("""
        SELECT o_orderkey AS k, pos, v
        FROM __gen_src
        LATERAL VIEW OUTER posexplode(
          CASE WHEN o_orderkey % 4 = 0 THEN array()
               ELSE sequence(1, CAST(o_orderkey % 4 AS INT)) END)
          AS pos, v""")


@q("src_warc_roundtrip", """
SELECT CAST(doc_id AS VARCHAR) AS record_id,
       'https://corpus.example/doc/' || CAST(doc_id AS VARCHAR)
           AS target_uri,
       CAST(octet_length(CAST(text AS BLOB)) AS BIGINT)
           AS content_length,
       text AS payload
FROM documents WHERE doc_id < 400""")
def src_warc_roundtrip(spark, sf_dir):
    """WARC ingestion (sources/warc.py — ISO 28500 / the Common Crawl
    ``.warc.gz`` container, implemented from the public spec since no
    WARC library ships here): documents become per-record-gzipped
    WARC responses (one member per record, the range-fetchable
    layout), written one segment per partition, then read back
    through the binaryFile source and parsed by Content-Length
    framing (never delimiter scanning).  The oracle is the identity
    on the source rows — record ids, URIs, byte lengths, and full
    payload text must survive the container — so header parsing,
    member walking (zlib unused_data loop), and UTF-8 framing are all
    hash-checked.  Parallelism = segments on both sides, the shape
    real crawl processing uses."""
    from aws_etl_bank_spark.sources.warc import read_warc, write_warc

    docs = (load_table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < 400)
            .select("doc_id",
                    F.concat(F.lit("https://corpus.example/doc/"),
                             F.col("doc_id").cast("string")).alias("uri"),
                    "text"))
    path = _scratch(sf_dir, "warc_roundtrip")
    write_warc(docs.repartition(4), path, "doc_id", "uri", "text")
    return read_warc(spark, path)


@q("sql_pipe_syntax_pricing", """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100
                           + 0.5) AS BIGINT)) AS BIGINT)
           AS revenue_cents,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100
                           + 0.5) AS BIGINT)) AS BIGINT) / 100.0
           AS revenue
FROM lineitem
WHERE l_shipdate <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus""")
def sql_pipe_syntax_pricing(spark, sf_dir):
    """SQL pipe syntax (Spark 4's ``|>`` operator chain, SPARK-49555 —
    the linear FROM-first form of nested SQL): a pricing summary
    written as WHERE |> EXTEND |> AGGREGATE ... GROUP BY |> EXTEND.
    Pipe syntax is pure PARSER surface — each ``|>`` stage lowers to
    the same Catalyst operators as the nested form, so the plan (one
    scan with pushed filter, partial+final hash aggregate) and the
    100 TB posture are identical to tpch_q1's; the entry pins that the
    dialect itself round-trips the engine.  Money flows through the
    integer-cents canon (r12: DECIMAL output columns are never
    driver-hash-safe); the derived double is bigint/100.0, identical
    IEEE division on both engines."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    lineitem.createOrReplaceTempView("__pipe_lineitem")
    return spark.sql("""
        FROM __pipe_lineitem
        |> WHERE l_shipdate <= DATE '1998-09-02'
        |> EXTEND CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100
                             + 0.5) AS BIGINT) AS disc_cents
        |> AGGREGATE CAST(SUM(disc_cents) AS BIGINT) AS revenue_cents,
                     CAST(COUNT(*) AS BIGINT) AS n_rows
           GROUP BY l_returnflag, l_linestatus
        |> EXTEND CAST(revenue_cents AS DOUBLE) / 100.0 AS revenue""")


@q("agg_approx_top_k_merge", """
SELECT o_orderpriority AS priority,
       CAST(COUNT(*) AS BIGINT) AS n
FROM orders GROUP BY o_orderpriority""")
def agg_approx_top_k_merge(spark, sf_dir):
    """Built-in heavy-hitters sketch (Spark 4.1's Apache DataSketches
    frequent-items family) through its MERGEABLE three-phase path:
    approx_top_k_accumulate per order-status group (map-side partial,
    O(maxItemsTracked) state) -> approx_top_k_combine into one global
    sketch -> approx_top_k_estimate.  This is the 100 TB shape — a
    fixed-size sketch per partition merges associatively, never a
    global shuffle of raw values.  The accuracy contract here is
    EXACTNESS by capacity: maxItemsTracked=8 exceeds the 5 distinct
    priorities, and the DataSketches frequent-items guarantee is
    zero count error while nothing is evicted, so the estimate equals
    the exact histogram and every row hash-checks against the plain
    GROUP BY oracle (the KLL entry's contract style, applied to
    frequencies).  Emitting ALL tracked items (k = distinct count)
    makes tie order irrelevant under the order-insensitive compare."""
    o = load_table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("__atk_src")
    return spark.sql("""
        WITH s AS (SELECT o_orderstatus,
                          approx_top_k_accumulate(o_orderpriority, 8) AS sk
                   FROM __atk_src GROUP BY o_orderstatus),
             m AS (SELECT approx_top_k_combine(sk, 8) AS sk FROM s),
             e AS (SELECT explode(approx_top_k_estimate(sk, 5)) AS p
                   FROM m)
        SELECT p.item AS priority, CAST(p.count AS BIGINT) AS n FROM e""")


@q("stream_state_reader", """
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
FROM events GROUP BY user_id""")
def stream_state_reader(spark, sf_dir):
    """The state DATA SOURCE (Spark 4's ``statestore`` batch format,
    SPARK-45511) — reading a Structured Streaming checkpoint's state
    store as a DataFrame, the ops surface every production streaming
    pipeline needs for state inspection, debugging, and migration.  A
    real streaming aggregation (per-user counts over the events feed,
    availableNow) commits RocksDB/HDFS-backed state; the entry then
    reads the checkpoint BACK via ``spark.read.format("statestore")``
    and flattens key/value structs to (user_id, n_events).  The state
    rows — not the sink — are what's hash-checked: they must equal the
    batch GROUP BY, pinning that checkpointed state is complete and
    readable offline.  Scale: the state read is partitioned by the
    store's shuffle partitions, O(keys) rows."""
    from aws_etl_bank_spark.plans.registry_llm_stream import _events_stream_dir
    from aws_etl_bank_spark.sources.testdata import events_stream
    from aws_etl_bank_spark.streaming import run_to_memory

    stream = events_stream(spark, _events_stream_dir(sf_dir))
    counts = stream.groupBy("user_id").count()
    ck = _scratch_run(sf_dir, "state_reader_ck")
    run_to_memory(counts, "update", ck)
    state = spark.read.format("statestore").load(ck)
    return state.select(F.col("key.user_id").alias("user_id"),
                        F.col("value.count").cast("long").alias("n_events"))


@q("src_pyds_filter_pushdown", """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
WHERE o_totalprice > 200000 AND o_orderstatus = 'F'
  AND o_orderkey >= 1000""")
def src_pyds_filter_pushdown(spark, sf_dir):
    """FILTER PUSHDOWN through the custom Python DataSource (Spark
    4.1's ``DataSourceReader.pushFilters``, sources/pyds.py): the
    string-equality and integer-range predicates are claimed by the
    connector, which (a) prunes whole ROW GROUPS from the plan using
    footer min/max statistics — the same skip native parquet scans
    get — and (b) applies the residual mask with Arrow compute inside
    the task.  The DOUBLE comparison (`o_totalprice > 200000`) is
    deliberately YIELDED BACK to Spark (ADVICE r13): Spark's NaN
    semantics (NaN = NaN true; NaN > every double) differ from IEEE
    pyarrow.compute, and Spark never re-evaluates claimed filters, so
    float-column comparisons are never claimable.  At 100 TB this is
    the difference between a connector that ships every row to Spark
    and one that reads only qualifying row groups.  Identity columns
    make the oracle a plain WHERE."""
    import os

    from aws_etl_bank_spark.sources.pyds import PyArrowParquetDataSource

    spark.dataSource.register(PyArrowParquetDataSource)
    return (spark.read.format("pyarrow_parquet")
            .option("path", os.path.join(sf_dir, "orders.parquet"))
            .load()
            .filter("o_totalprice > 200000 AND o_orderstatus = 'F' "
                    "AND o_orderkey >= 1000")
            .select("o_orderkey", "o_custkey", "o_totalprice"))


@q("canary_driver_hash_types", """
SELECT status, sum_cents,
       CAST(SUM(sum_cents) OVER (ORDER BY status) AS BIGINT)
           AS run_cents,
       avg_price, n, first_order, first_year, is_common
FROM (
    SELECT o_orderstatus AS status,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
               / (100.0 * COUNT(*)) AS avg_price,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(o_orderdate) AS TIMESTAMP) AS first_order,
           CAST(year(MIN(o_orderdate)) AS INTEGER) AS first_year,
           COUNT(*) > 100 AS is_common
    FROM orders
    GROUP BY o_orderstatus
)
ORDER BY status""")
def canary_driver_hash_types(spark, sf_dir):
    """DRIVER-ENVIRONMENT CANARY (VERDICT r13 task 2): a deliberately
    cheap 3-row aggregate emitting one column of every value class the
    driver's bitwise hash canon has to handle — STRING key,
    integer-CENTS money (the proven-safe canon from the r11-r13
    DECIMAL-divergence incident: the driver environment's pandas hash
    diverges from local on DECIMAL values, so money is summed as
    ``BIGINT`` cents), a DOUBLE, a BIGINT count, a TIMESTAMP min, a
    ``year()`` INTEGER, a BOOLEAN, and (since r15) a WINDOWED
    ``SUM(BIGINT)`` — the class behind the r14 red: DuckDB types a
    windowed integer sum HUGEINT unless outer-CAST, so this column
    keeps the cast pattern on permanent display and would read out any
    future driver drift on windowed sums.  The DOUBLE is derived from
    the exact integer-cents sum with a single IEEE division
    (``sum_cents / (100.0 * n)``) rather than ``ROUND(AVG(...))`` —
    AVG over doubles is accumulation-order dependent and ROUND near a
    .005 tie can flip bitwise between engines (ADVICE r14); the
    division form has one bit pattern everywhere.  This entry is
    pinned to slot 1 of the driver's 50-entry window every round: any
    NEW driver-side hash divergence (a pandas/pyarrow upgrade changing
    canonicalization of one of these types) shows up as one red canary
    with a known-good local baseline, instead of a mystery red in a
    load-bearing entry.  Sub-second at sf0.01."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    cents = F.sum(F.round(F.col("o_totalprice") * 100)
                  .cast("bigint")).cast("bigint")
    agg = (
        o.groupBy(F.col("o_orderstatus").alias("status"))
        .agg(
            cents.alias("sum_cents"),
            (cents.cast("double")
             / (F.lit(100.0) * F.count(F.lit(1)))).alias("avg_price"),
            F.count(F.lit(1)).alias("n"),
            F.min("o_orderdate").cast("timestamp").alias("first_order"),
            F.year(F.min("o_orderdate")).cast("int").alias("first_year"),
            (F.count(F.lit(1)) > 100).alias("is_common"),
        )
    )
    return (
        agg.withColumn(
            "run_cents",
            F.sum("sum_cents").over(Window.orderBy("status"))
            .cast("bigint"))
        .select("status", "sum_cents", "run_cents", "avg_price", "n",
                "first_order", "first_year", "is_common")
        .orderBy("status")
    )


@q("sql_scripting_while_loop", """
SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS total_cents
FROM orders
WHERE year(o_orderdate) BETWEEN 1995 AND 2001""")
def sql_scripting_while_loop(spark, sf_dir):
    """SQL SCRIPTING (Spark 4.1 ``BEGIN ... END`` blocks, probed and
    adopted r14): session variables (``DECLARE``/``SET``), a ``WHILE``
    loop, and scalar-subquery assignment — the procedural surface a
    migration from stored-procedure warehouses needs.  The script
    walks the order years 1995-2001, accumulating an exact
    integer-CENTS revenue total and an order count into BIGINT
    variables (cents, not doubles, so the per-iteration accumulation
    order can never diverge bitwise from the oracle's single SUM).
    Both accumulators update through ONE multi-assignment ``SET
    (cents, n) = (SELECT ...)`` per iteration — one filtered aggregate
    per year, 7 bounded scans total (two separate SETs would scan
    twice per year).  Honesty note on the plan: even so, the single
    GROUP BY is the recommended form at 100 TB; the entry exists to
    pin the SCRIPTING surface (control flow, variable state,
    multi-assignment, loop termination), not to recommend the shape.
    The oracle is the closed-form aggregate over the same year band."""
    orders = load_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("__script_orders")
    return spark.sql("""
        BEGIN
          DECLARE y INT DEFAULT 1995;
          DECLARE cents BIGINT DEFAULT 0;
          DECLARE n BIGINT DEFAULT 0;
          WHILE y <= 2001 DO
            SET (cents, n) = (
                SELECT cents + COALESCE(SUM(CAST(ROUND(o_totalprice
                                                       * 100)
                                                 AS BIGINT)), 0),
                       n + COUNT(*)
                FROM __script_orders WHERE year(o_orderdate) = y);
            SET y = y + 1;
          END WHILE;
          SELECT n AS n_orders, cents AS total_cents;
        END""")
