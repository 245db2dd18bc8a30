"""Flagship, aggregations, windows, joins, field transforms, set ops, scalars, nested restructuring, API-surface promotions — registry entries (formerly registry.py lines 89-1423).

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
    SCRATCH, canon0, q, _scratch)


# ===========================================================================
# Flagship (SURVEY.md §3.1)
# ===========================================================================

_FLAGSHIP_ORACLE_BODY = """
WITH transactions AS (
    SELECT l.l_orderkey * 10 + l.l_linenumber AS trans_id,
           o.o_custkey AS cust_id,
           l.l_suppkey AS acc_id,
           s.s_name AS account_type_name,
           l.l_extendedprice AS amount,
           CAST(l.l_shipdate AS DATE) AS transaction_date,
           pt.type_nm AS payment_type_nm
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN (VALUES ('A','refund_payment'),('N','normal_payment'),('R','return_payment'))
         pt(type_code, type_nm) ON l.l_returnflag = pt.type_code
),
cte_cust_daily AS (
    SELECT transaction_date, cust_id,
           COUNT(trans_id) AS cust_no_transaction_daily,
           SUM(amount) AS cust_daily_spending,
           array_to_string(list_sort(list(DISTINCT payment_type_nm)), ',') AS cust_daily_payment_type
    FROM transactions GROUP BY transaction_date, cust_id
),
cte_cust_accum AS (
    SELECT *, SUM(cust_daily_spending) OVER (
        PARTITION BY cust_id ORDER BY transaction_date) AS cust_accum_spending
    FROM cte_cust_daily
),
cte_acc_daily AS (
    SELECT transaction_date, cust_id, acc_id, account_type_name,
           COUNT(DISTINCT trans_id) AS account_no_transactions_daily,
           SUM(amount) AS account_daily_spending
    FROM transactions GROUP BY transaction_date, cust_id, acc_id, account_type_name
),
cte_acc_accum AS (
    SELECT *, SUM(account_daily_spending) OVER (
        PARTITION BY cust_id, acc_id ORDER BY transaction_date) AS account_accum_spending
    FROM cte_acc_daily
),
cte_month_avg AS (
    SELECT month(transaction_date) AS month_key, AVG(amount) AS avg_monthly_spending
    FROM transactions GROUP BY month(transaction_date)
)
SELECT strftime(a1.transaction_date, '%Y%m%d') AS date_key,
       a1.transaction_date, a1.cust_id, a1.acc_id, a1.account_type_name,
       a1.account_no_transactions_daily,
       ROUND(a1.account_daily_spending, 2) AS account_daily_spending,
       ROUND(a1.account_accum_spending, 2) AS account_accum_spending,
       c2.cust_no_transaction_daily,
       ROUND(c2.cust_daily_spending, 2) AS cust_daily_spending,
       c2.cust_daily_payment_type,
       ROUND(c2.cust_accum_spending, 2) AS cust_accum_spending,
       ROUND(c3.avg_monthly_spending, 2) AS avg_monthly_spending,
       CASE WHEN dayofweek(a1.transaction_date) IN (0, 6) THEN 'weekend' ELSE 'weekday' END AS day_type,
       ((month(a1.transaction_date) = 1 AND dayofmonth(a1.transaction_date) = 1)
        OR (month(a1.transaction_date) = 4 AND dayofmonth(a1.transaction_date) = 30)
        OR (month(a1.transaction_date) = 5 AND dayofmonth(a1.transaction_date) = 1)
        OR (month(a1.transaction_date) = 9 AND dayofmonth(a1.transaction_date) = 2)) AS is_holiday
FROM cte_acc_accum a1
JOIN cte_cust_accum c2 ON c2.cust_id = a1.cust_id {extra}
JOIN cte_month_avg c3 ON c3.month_key = month(a1.transaction_date)
"""


@q("fact_snapshot", _FLAGSHIP_ORACLE_BODY.format(extra="AND c2.transaction_date = a1.transaction_date"))
def fact_snapshot(spark, sf_dir):
    from aws_etl_bank_spark.plans.flagship import build_fact_snapshot

    return build_fact_snapshot(spark, sf_dir, fidelity=False)


@q("fact_snapshot_split", _FLAGSHIP_ORACLE_BODY.format(extra="AND c2.transaction_date = a1.transaction_date"))
def fact_snapshot_split(spark, sf_dir):
    """Hot-key-split flagship (VERDICT r5 item 7): both running-sum
    windows go through operators/windows.py running_sum_split with
    ~90-day buckets, so a whale customer's history spreads across many
    tasks instead of serializing one window partition.  Shares
    fact_snapshot's oracle — the split must be value-identical."""
    from aws_etl_bank_spark.plans.flagship import build_fact_snapshot

    return build_fact_snapshot(spark, sf_dir, fidelity=False,
                               coarse_bucket_seconds=90 * 86400.0)


@q(
    "fact_snapshot_fidelity",
    "WITH base AS ({body}) SELECT * FROM base WHERE cust_id < 100".format(
        body=_FLAGSHIP_ORACLE_BODY.format(extra="")
    ),
)
def fact_snapshot_fidelity(spark, sf_dir):
    """The reference's row-multiplication quirk (SURVEY.md §8.1): the
    cust-accum CTE joins on cust_id only.  Scoped to cust_id < 100 to keep
    the multiplied output bounded at sf0.01."""
    from aws_etl_bank_spark.plans.flagship import build_fact_snapshot

    return build_fact_snapshot(spark, sf_dir, fidelity=True).filter(F.col("cust_id") < 100)


# ===========================================================================
# Aggregations (SURVEY.md §2.4)
# ===========================================================================


@q("agg_daily_cust", """
SELECT CAST(o_orderdate AS DATE) AS transaction_date, o_custkey AS cust_id,
       COUNT(o_orderkey) AS no_trans, ROUND(SUM(o_totalprice), 2) AS daily_spending
FROM orders GROUP BY 1, 2""")
def agg_daily_cust(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(F.to_date("o_orderdate").alias("transaction_date"),
                  F.col("o_custkey").alias("cust_id"))
        .agg(F.count("o_orderkey").alias("no_trans"),
             F.round(F.sum("o_totalprice"), 2).alias("daily_spending"))
    )


@q("agg_payment_types", """
SELECT o_custkey AS cust_id,
       array_to_string(list_sort(list(DISTINCT o_orderpriority)), ',') AS priorities
FROM orders GROUP BY 1""")
def agg_payment_types(spark, sf_dir):
    """collect_list(distinct ...) per group (r2g_account.py:165) — sorted
    and joined for deterministic comparison (SURVEY.md §8.4)."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy(F.col("o_custkey").alias("cust_id")).agg(
        F.array_join(F.sort_array(F.collect_set("o_orderpriority")), ",").alias("priorities")
    )


@q("agg_count_distinct", """
SELECT l_returnflag, l_linestatus, l_suppkey, CAST(l_shipdate AS DATE) AS ship_date,
       COUNT(DISTINCT l_orderkey) AS n_orders
FROM lineitem GROUP BY 1, 2, 3, 4""")
def agg_count_distinct(spark, sf_dir):
    # widen_if_underscanned A/B'd here: 1.20 vs 1.15 s — noise.  The
    # (keys + orderkey) distinct pre-aggregation already reduces enough
    # that 3-way scan parallelism isn't the bottleneck.  Kept plain.
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus", "l_suppkey",
                   F.to_date("l_shipdate").alias("ship_date"))
        .agg(F.countDistinct("l_orderkey").alias("n_orders"))
    )


@q("agg_avg_by_month", """
SELECT CAST(month(o_orderdate) AS INTEGER) AS month_key,
       ROUND(AVG(o_totalprice), 2) AS avg_price
FROM orders GROUP BY 1""")
def agg_avg_by_month(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy(F.month("o_orderdate").alias("month_key")).agg(
        F.round(F.avg("o_totalprice"), 2).alias("avg_price")
    )


@q("agg_nested_max", """
SELECT o_custkey AS cust_id, MAX(o_totalprice) AS max_price
FROM orders GROUP BY 1""")
def agg_nested_max(spark, sf_dir):
    """groupBy on a nested column + agg + rename (the
    crawler_undo.py:54-57 pattern)."""
    o = load_table(spark, sf_dir, "orders")
    nested = o.select(F.struct("o_custkey", "o_totalprice").alias("t"))
    agged = nested.groupBy(F.col("t.o_custkey").alias("cust_id")).max("t.o_totalprice")
    # rename the auto-generated agg column, the crawler_undo.py:55 pattern
    return agged.withColumnRenamed(agged.columns[-1], "max_price")


@q("agg_collect_struct_size", """
SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_rows
FROM orders GROUP BY 1""")
def agg_collect_struct_size(spark, sf_dir):
    """collect_list(struct("*")) whole-row nesting (scripts_utils.py:55-63),
    checked via the collected size."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus")
        .agg(F.collect_list(F.struct("*")).alias("rows"))
        .select("o_orderstatus", F.size("rows").cast("long").alias("n_rows"))
    )


# ===========================================================================
# Windows (SURVEY.md §2.5)
# ===========================================================================


@q("win_running_sum_cust", """
WITH daily AS (
    SELECT o_custkey AS cust_id, CAST(o_orderdate AS DATE) AS d, SUM(o_totalprice) AS spend
    FROM orders GROUP BY 1, 2
)
SELECT cust_id, d, ROUND(spend, 2) AS daily_spend,
       ROUND(SUM(spend) OVER (PARTITION BY cust_id ORDER BY d), 2) AS accum_spend
FROM daily""")
def win_running_sum_cust(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_custkey").alias("cust_id"), F.to_date("o_orderdate").alias("d")
    ).agg(F.sum("o_totalprice").alias("spend"))
    w = Window.partitionBy("cust_id").orderBy("d")  # RANGE default frame (§8.2)
    return daily.select(
        "cust_id", "d", F.round("spend", 2).alias("daily_spend"),
        F.round(F.sum("spend").over(w), 2).alias("accum_spend"),
    )


@q("win_running_sum_cust_split", """
WITH daily AS (
    SELECT o_custkey AS cust_id, CAST(o_orderdate AS DATE) AS d, SUM(o_totalprice) AS spend
    FROM orders GROUP BY 1, 2
)
SELECT cust_id, d, ROUND(spend, 2) AS daily_spend,
       ROUND(SUM(spend) OVER (PARTITION BY cust_id ORDER BY d), 2) AS accum_spend
FROM daily""")
def win_running_sum_cust_split(spark, sf_dir):
    """Hot-key-split running sum (operators/windows.py running_sum_split):
    same oracle as win_running_sum_cust — within-bucket RANGE window plus
    the running total of earlier buckets must be value-identical to the
    serial per-key window, while each customer's history spreads across
    ~30-day tasks.  The running-aggregate sibling of
    ts_rolling_zscore_bucketed's trailing-rows split."""
    o = load_table(spark, sf_dir, "orders")
    from aws_etl_bank_spark.operators.windows import running_sum_split

    daily = o.groupBy(
        F.col("o_custkey").alias("cust_id"), F.to_date("o_orderdate").alias("d")
    ).agg(F.sum("o_totalprice").alias("spend"))
    out = running_sum_split(daily, ["cust_id"], "d", "spend", "accum_spend",
                            coarse_bucket_seconds=30 * 86400.0)
    return out.select(
        "cust_id", "d", F.round("spend", 2).alias("daily_spend"),
        F.round("accum_spend", 2).alias("accum_spend"),
    )


@q("win_running_sum_acct", """
WITH daily AS (
    SELECT l_suppkey AS acc_id, l_returnflag AS flag, CAST(l_shipdate AS DATE) AS d,
           SUM(l_extendedprice) AS spend
    FROM lineitem GROUP BY 1, 2, 3
)
SELECT acc_id, flag, d,
       ROUND(SUM(spend) OVER (PARTITION BY acc_id, flag ORDER BY d), 2) AS accum_spend
FROM daily""")
def win_running_sum_acct(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    daily = li.groupBy(
        F.col("l_suppkey").alias("acc_id"), F.col("l_returnflag").alias("flag"),
        F.to_date("l_shipdate").alias("d"),
    ).agg(F.sum("l_extendedprice").alias("spend"))
    w = Window.partitionBy("acc_id", "flag").orderBy("d")
    return daily.select(
        "acc_id", "flag", "d", F.round(F.sum("spend").over(w), 2).alias("accum_spend")
    )


@q("win_row_number_topk", """
SELECT o_custkey AS cust_id, o_orderkey, o_totalprice, CAST(rn AS BIGINT) AS rn
FROM (
    SELECT o_custkey, o_orderkey, o_totalprice,
           ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
    FROM orders
) WHERE rn <= 3""")
def win_row_number_topk(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(F.col("o_custkey").alias("cust_id"), "o_orderkey", "o_totalprice",
                F.col("rn").cast("long").alias("rn"))
    )


@q("win_lag_delta", """
WITH daily AS (
    SELECT o_custkey AS cust_id, CAST(o_orderdate AS DATE) AS d, SUM(o_totalprice) AS spend
    FROM orders GROUP BY 1, 2
)
SELECT cust_id, d,
       ROUND(spend - COALESCE(LAG(spend) OVER (PARTITION BY cust_id ORDER BY d), 0), 2) + 0 AS delta
FROM daily""")
def win_lag_delta(spark, sf_dir):
    """Day-over-day spend delta per customer via LAG.  The delta is a
    DIFFERENCE of two floating sums: two days with equal spend can net
    to ±1e-10 depending on each engine's accumulation order, and
    ROUND(,2) of a tiny negative is IEEE ``-0.0`` — bitwise-distinct
    from ``+0.0`` under the driver hash.  Both sides canonicalize
    (:func:`canon0` / ``+ 0``)."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_custkey").alias("cust_id"), F.to_date("o_orderdate").alias("d")
    ).agg(F.sum("o_totalprice").alias("spend"))
    w = Window.partitionBy("cust_id").orderBy("d")
    return daily.select(
        "cust_id", "d",
        canon0(F.round(F.col("spend") - F.coalesce(F.lag("spend").over(w), F.lit(0.0)), 2)).alias("delta"),
    )


# ===========================================================================
# Joins & merge (SURVEY.md §2.3)
# ===========================================================================


@q("join_dynamicframe_equi", """
SELECT c.c_custkey, c.c_name, n.n_name AS nation_name
FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey""")
def join_dynamicframe_equi(spark, sf_dir):
    from aws_etl_bank_spark.operators.dynamicframe import DynamicFrame

    c = DynamicFrame.fromDF(load_table(spark, sf_dir, "customer"), None, "customer")
    n = DynamicFrame.fromDF(load_table(spark, sf_dir, "nation"), None, "nation")
    joined = c.join(["c_nationkey"], ["n_nationkey"], n)
    return joined.toDF().select("c_custkey", "c_name", F.col("n_name").alias("nation_name"))


@q("join_multiway_sql", """
SELECT r.r_name AS region_name, CAST(year(o.o_orderdate) AS INTEGER) AS order_year,
       CAST(COUNT(*) AS BIGINT) AS n_orders, ROUND(SUM(o.o_totalprice), 2) AS revenue
FROM region r
JOIN nation n ON n.n_regionkey = r.r_regionkey
JOIN customer c ON c.c_nationkey = n.n_nationkey
JOIN orders o ON o.o_custkey = c.c_custkey
GROUP BY 1, 2""")
def join_multiway_sql(spark, sf_dir):
    for t in ("region", "nation", "customer", "orders"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql("""
        SELECT /*+ BROADCAST(r, n) */ r.r_name AS region_name,
               year(o.o_orderdate) AS order_year,
               COUNT(*) AS n_orders, ROUND(SUM(o.o_totalprice), 2) AS revenue
        FROM region r
        JOIN nation n ON n.n_regionkey = r.r_regionkey
        JOIN customer c ON c.c_nationkey = n.n_nationkey
        JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY r.r_name, year(o.o_orderdate)""")


@q("join_left_semi", """
SELECT c_custkey, c_name FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""")
def join_left_semi(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "leftsemi").select("c_custkey", "c_name")


@q("join_left_anti", """
SELECT c_custkey, c_name FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""")
def join_left_anti(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@q("join_expr_month", """
WITH m AS (SELECT month(o_orderdate) AS month_key, AVG(o_totalprice) AS avg_price
           FROM orders GROUP BY 1)
SELECT o.o_orderkey, ROUND(o.o_totalprice / m.avg_price, 4) AS price_ratio
FROM orders o JOIN m ON m.month_key = month(o.o_orderdate)""")
def join_expr_month(spark, sf_dir):
    """Join on a date-expression key (the r2g_account.py:206 pattern)."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql("""
        WITH m AS (SELECT month(o_orderdate) AS month_key, AVG(o_totalprice) AS avg_price
                   FROM orders GROUP BY month(o_orderdate))
        SELECT o.o_orderkey, ROUND(o.o_totalprice / m.avg_price, 4) AS price_ratio
        FROM orders o JOIN m ON m.month_key = month(o.o_orderdate)""")


@q("merge_upsert", """
WITH staging AS (
    SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
           ROUND(o_totalprice + 1000, 2) AS o_totalprice
    FROM orders WHERE o_orderkey % 10 = 0
)
SELECT o_orderkey, o_custkey, o_orderstatus, ROUND(o_totalprice, 2) AS o_totalprice
FROM orders WHERE o_orderkey NOT IN (SELECT o_orderkey FROM staging)
UNION ALL SELECT * FROM staging""")
def merge_upsert(spark, sf_dir):
    """mergeDynamicFrame PK upsert (dynamicframe.py:436-461)."""
    from aws_etl_bank_spark.operators.dynamicframe import DynamicFrame

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", F.round("o_totalprice", 2).alias("o_totalprice")
    )
    staging = (
        o.filter(F.col("o_orderkey") % 10 == 0)
        .withColumn("o_orderstatus", F.lit("U"))
        .withColumn("o_totalprice", F.round(F.col("o_totalprice") + 1000, 2))
    )
    src = DynamicFrame.fromDF(o, None, "src")
    stg = DynamicFrame.fromDF(staging, None, "stg")
    return src.mergeDynamicFrame(stg, ["o_orderkey"]).toDF()


# ===========================================================================
# Field transforms (SURVEY.md §2.2)
# ===========================================================================


@q("apply_mapping_cast", """
SELECT CAST(l_orderkey AS VARCHAR) AS order_id, CAST(l_linenumber AS BIGINT) AS line_no,
       CAST(l_shipdate AS DATE) AS ship_date, l_returnflag AS flag
FROM lineitem""")
def apply_mapping_cast(spark, sf_dir):
    from aws_etl_bank_spark.operators.dynamicframe import DynamicFrame

    li = DynamicFrame.fromDF(load_table(spark, sf_dir, "lineitem"), None, "li")
    return li.apply_mapping(
        [
            ("l_orderkey", "order_id", "string"),
            ("l_linenumber", "long", "line_no", "long"),  # 4-tuple form
            ("l_shipdate", "ship_date", "date"),
            ("l_returnflag", "flag"),  # 2-tuple form
        ]
    ).toDF()


@q("select_fields_nested", """
SELECT c_custkey, c_name AS "info.c_name" FROM customer""")
def select_fields_nested(spark, sf_dir):
    from aws_etl_bank_spark.operators.dynamicframe import DynamicFrame

    c = load_table(spark, sf_dir, "customer").withColumn(
        "info", F.struct("c_name", "c_acctbal")
    )
    return DynamicFrame.fromDF(c, None, "c").select_fields(["c_custkey", "info.c_name"]).toDF()


@q("drop_fields_op", """
SELECT p_partkey, p_name, p_size FROM part""")
def drop_fields_op(spark, sf_dir):
    from aws_etl_bank_spark.operators.dynamicframe import DynamicFrame

    p = DynamicFrame.fromDF(load_table(spark, sf_dir, "part"), None, "p")
    return p.drop_fields(["p_brand", "p_type", "p_retailprice"]).toDF()


@q("rename_field_op", """
SELECT p_partkey AS part_id, p_name FROM part""")
def rename_field_op(spark, sf_dir):
    from aws_etl_bank_spark.operators.dynamicframe import DynamicFrame

    p = DynamicFrame.fromDF(
        load_table(spark, sf_dir, "part").select("p_partkey", "p_name"), None, "p"
    )
    return p.rename_field("p_partkey", "part_id").toDF()


@q("split_rows_match", """
SELECT p_partkey, p_name, p_size FROM part WHERE p_size > 10 AND p_size <= 30""")
def split_rows_match(spark, sf_dir):
    from aws_etl_bank_spark.operators.dynamicframe import DynamicFrame

    p = DynamicFrame.fromDF(
        load_table(spark, sf_dir, "part").select("p_partkey", "p_name", "p_size"), None, "p"
    )
    return p.split_rows({"p_size": {">": 10, "<=": 30}}, "match", "rest").select("match").toDF()


@q("split_rows_rest", """
SELECT p_partkey, p_name, p_size FROM part WHERE NOT (p_size > 10 AND p_size <= 30)""")
def split_rows_rest(spark, sf_dir):
    from aws_etl_bank_spark.operators.dynamicframe import DynamicFrame

    p = DynamicFrame.fromDF(
        load_table(spark, sf_dir, "part").select("p_partkey", "p_name", "p_size"), None, "p"
    )
    return p.split_rows({"p_size": {">": 10, "<=": 30}}, "match", "rest").select("rest").toDF()


@q("split_fields_op", """
SELECT p_partkey, p_name FROM part""")
def split_fields_op(spark, sf_dir):
    from aws_etl_bank_spark.operators.dynamicframe import DynamicFrame

    p = DynamicFrame.fromDF(load_table(spark, sf_dir, "part"), None, "p")
    return p.split_fields(["p_partkey", "p_name"], "keys", "attrs").select("keys").toDF()


@q("filter_python_predicate", """
SELECT * FROM orders WHERE o_totalprice > 150000""")
def filter_python_predicate(spark, sf_dir):
    from aws_etl_bank_spark.operators.dynamicframe import DynamicFrame

    o = DynamicFrame.fromDF(load_table(spark, sf_dir, "orders"), None, "o")
    return o.filter(lambda rec: rec["o_totalprice"] > 150000).toDF()


@q("filter_drop_policy", """
SELECT * FROM orders WHERE o_orderstatus != 'O' AND o_totalprice > 150000""")
def filter_drop_policy(spark, sf_dir):
    """KeyError/ValueError/TypeError in the predicate silently drop the row
    (dynamicframe.py:86-90) — here every 'O' row raises ValueError."""
    from aws_etl_bank_spark.operators.dynamicframe import DynamicFrame

    o = DynamicFrame.fromDF(load_table(spark, sf_dir, "orders"), None, "o")

    def pred(rec):
        if rec["o_orderstatus"] == "O":
            raise ValueError("dropped")
        return rec["o_totalprice"] > 150000

    return o.filter(pred).toDF()


@q("map_python_records", """
SELECT c_custkey, c_name, UPPER(c_name) AS name_upper, c_acctbal FROM customer""")
def map_python_records(spark, sf_dir):
    from aws_etl_bank_spark.operators.dynamicframe import DynamicFrame

    base = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_acctbal")
    frame = DynamicFrame.fromDF(base, None, "c")
    out_schema = T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("name_upper", T.StringType()),
            T.StructField("c_acctbal", T.DoubleType()),
        ]
    )

    def fn(rec):
        rec["name_upper"] = rec["c_name"].upper()
        return rec

    return frame.map(fn, schema=out_schema).toDF()


@q("map_error_policy", """
SELECT c_custkey, c_acctbal FROM customer WHERE c_acctbal >= 0""")
def map_error_policy(spark, sf_dir):
    """Rows whose map callable raises become error records and leave the
    main frame (dynamicframe.py:104-115)."""
    from aws_etl_bank_spark.operators.dynamicframe import DynamicFrame

    base = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    frame = DynamicFrame.fromDF(base, None, "c")
    schema = T.StructType(
        [T.StructField("c_custkey", T.LongType()), T.StructField("c_acctbal", T.DoubleType())]
    )

    def fn(rec):
        if rec["c_acctbal"] < 0:
            raise RuntimeError("negative balance")
        return rec

    return frame.map(fn, schema=schema).toDF()


@q("drop_null_fields_op", """
SELECT * FROM part""")
def drop_null_fields_op(spark, sf_dir):
    from aws_etl_bank_spark.operators.dynamicframe import DynamicFrame
    from aws_etl_bank_spark.transforms import DropNullFields

    p = load_table(spark, sf_dir, "part").withColumn("junk", F.lit(None))
    return DropNullFields.apply(DynamicFrame.fromDF(p, None, "p")).toDF()


# ===========================================================================
# Set ops / choice (SURVEY.md §2.7, §2.9)
# ===========================================================================


@q("union_by_name_drift", """
SELECT o_orderkey, o_totalprice, CAST(NULL AS VARCHAR) AS o_orderstatus
FROM orders
UNION ALL
SELECT o_orderkey, CAST(NULL AS DOUBLE), o_orderstatus FROM orders""")
def union_by_name_drift(spark, sf_dir):
    from aws_etl_bank_spark.operators.dynamicframe import DynamicFrame

    o = load_table(spark, sf_dir, "orders")
    a = DynamicFrame.fromDF(o.select("o_orderkey", "o_totalprice"), None, "a")
    b = DynamicFrame.fromDF(o.select("o_orderkey", "o_orderstatus"), None, "b")
    return a.union(b).toDF()


@q("union_choice_cast", """
SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderstatus IN ('F', 'O')""")
def union_choice_cast(spark, sf_dir):
    """Type-conflicted union → ChoiceType → resolveChoice cast:long."""
    from aws_etl_bank_spark.operators.dynamicframe import DynamicFrame

    o = load_table(spark, sf_dir, "orders")
    a = DynamicFrame.fromDF(
        o.filter("o_orderstatus = 'F'").select(
            F.col("o_orderkey").cast("string").alias("o_orderkey"), "o_orderstatus"
        ), None, "a")
    b = DynamicFrame.fromDF(
        o.filter("o_orderstatus = 'O'").select("o_orderkey", "o_orderstatus"), None, "b")
    return a.union(b).resolveChoice(specs=[("o_orderkey", "cast:long")]).toDF()


@q("resolve_choice_make_cols", """
SELECT o_orderstatus,
       CASE WHEN o_orderstatus = 'O' THEN o_orderkey END AS o_orderkey_long,
       CASE WHEN o_orderstatus = 'F' THEN CAST(o_orderkey AS VARCHAR) END AS o_orderkey_string
FROM orders WHERE o_orderstatus IN ('F', 'O')""")
def resolve_choice_make_cols(spark, sf_dir):
    from aws_etl_bank_spark.operators.dynamicframe import DynamicFrame

    o = load_table(spark, sf_dir, "orders")
    a = DynamicFrame.fromDF(
        o.filter("o_orderstatus = 'F'").select(
            F.col("o_orderkey").cast("string").alias("o_orderkey"), "o_orderstatus"
        ), None, "a")
    b = DynamicFrame.fromDF(
        o.filter("o_orderstatus = 'O'").select("o_orderkey", "o_orderstatus"), None, "b")
    out = a.union(b).resolveChoice(specs=[("o_orderkey", "make_cols")]).toDF()
    return out.select("o_orderstatus", "o_orderkey_long", "o_orderkey_string")


@q("subtract_op", """
SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'
EXCEPT SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'""")
def subtract_op(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return (
        o.filter("o_orderstatus = 'F'").select("o_custkey")
        .subtract(o.filter("o_orderstatus = 'O'").select("o_custkey"))
    )


@q("intersect_op", """
SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'
INTERSECT SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'""")
def intersect_op(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return (
        o.filter("o_orderstatus = 'F'").select("o_custkey")
        .intersect(o.filter("o_orderstatus = 'O'").select("o_custkey"))
    )


@q("subtract_all_op", """
SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
EXCEPT ALL SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'""")
def subtract_all_op(spark, sf_dir):
    """MULTISET difference (``exceptAll`` — §2.7 completion next to the
    set-semantics subtract entry): each F-status occurrence of a
    custkey survives once per unmatched multiplicity, the ANSI EXCEPT
    ALL bag semantics Spark implements with a count-and-replicate
    rewrite (sum of +1/-1 tags, generate surviving copies) — one
    shuffle on the key, no distinct.  A dedup-THEN-diff would silently
    change row counts for repeat customers; bag semantics is what
    reconciliation reports need."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.filter("o_orderstatus = 'F'").select("o_custkey")
        .exceptAll(o.filter("o_orderstatus = 'O'").select("o_custkey"))
    )


@q("intersect_all_op", """
SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
INTERSECT ALL SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'""")
def intersect_all_op(spark, sf_dir):
    """MULTISET intersection (``intersectAll``): a custkey appearing m
    times on one side and n on the other yields min(m, n) copies —
    same single-shuffle count-based physical strategy as exceptAll."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.filter("o_orderstatus = 'F'").select("o_custkey")
        .intersectAll(o.filter("o_orderstatus = 'O'").select("o_custkey"))
    )


@q("distinct_op", """
SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem""")
def distinct_op(spark, sf_dir):
    return load_table(spark, sf_dir, "lineitem").select("l_returnflag", "l_linestatus").distinct()


@q("orderby_topk", """
SELECT o_orderkey, o_totalprice FROM orders
ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""")
def orderby_topk(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(10)
    )


def _unordered_sample_invariants(sample_factory, base):
    """Shared invariant oracle for nondeterministic row-subset
    operators (unordered LIMIT, TABLESAMPLE): WHICH rows come back is
    nondeterministic, so the checkable properties are (a) the exact
    row count (``n_rows``), (b) containment — every row a genuine base
    row via left-semi join back (``n_contained``; a semi join
    preserves duplicates in the probe side, so a duplicated output row
    would still need a source match), and (c) all-distinct
    (``n_distinct``; base rows are unique, so a repeated row reads
    low).  ``sample_factory`` is called once per branch — independent
    re-evaluations may pick different rows, which is fine because only
    the invariant counts are emitted.  Exactness lesson baked in
    (r13): ``n_distinct`` must count over ALL columns.

    PRECONDITION (ADVICE r14): the base table must be NULL-free in
    every column — ``count_distinct(*cols)`` drops a row when ANY
    column is NULL, and the left-semi equi-join never matches NULL
    keys, so a nullable base would read as an n_distinct/n_contained
    undercount.  Holds for the TPC-H tables this helper is used on;
    reusing it on nullable data requires hashing the columns into a
    null-safe struct first."""
    cols = base.columns
    counts = sample_factory().agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct(*[F.col(c) for c in cols]).alias("n_distinct"))
    contained = (sample_factory().join(base, on=cols, how="left_semi")
                 .agg(F.count(F.lit(1)).alias("n_contained")))
    return contained.crossJoin(counts).select(
        "n_contained", "n_distinct", "n_rows")


@q("sample_limit", """
SELECT CAST(50 AS BIGINT) AS n_contained,
       CAST(50 AS BIGINT) AS n_distinct,
       CAST(50 AS BIGINT) AS n_rows""")
def sample_limit(spark, sf_dir):
    """Unordered LIMIT, oracle-checked through its invariants (VERDICT
    r13 task 4, folding in the old ``sample_limit_contained`` from
    VERDICT r4 item 4a) — see ``_unordered_sample_invariants`` for the
    count/containment/distinctness contract."""
    o = load_table(spark, sf_dir, "orders")
    return _unordered_sample_invariants(lambda: o.limit(50), o)


# ===========================================================================
# Scalar functions (SURVEY.md §2.8)
# ===========================================================================


@q("scalar_dates", """
SELECT o_orderkey,
       CAST(year(o_orderdate) AS INTEGER) AS y,
       CAST(quarter(o_orderdate) AS INTEGER) AS q,
       CAST(month(o_orderdate) AS INTEGER) AS m,
       CAST(dayofmonth(o_orderdate) AS INTEGER) AS d,
       strftime(o_orderdate, '%Y%m%d') AS ymd,
       CAST(o_orderdate AS DATE) AS od
FROM orders""")
def scalar_dates(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("y"),
        F.quarter("o_orderdate").alias("q"),
        F.month("o_orderdate").alias("m"),
        F.dayofmonth("o_orderdate").alias("d"),
        F.date_format("o_orderdate", "yyyyMMdd").alias("ymd"),
        F.to_date("o_orderdate").alias("od"),
    )


@q("scalar_when_case", """
SELECT CASE WHEN o_totalprice > 250000 THEN 'high'
            WHEN o_totalprice > 100000 THEN 'mid'
            ELSE 'low' END AS tier,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18, 2))) AS DECIMAL(18, 2))
            AS DOUBLE) AS total
FROM orders GROUP BY 1""")
def scalar_when_case(spark, sf_dir):
    """when/otherwise tiering over a money sum.  The sum runs in
    DECIMAL(18,2), not double: a double sum at sf1 magnitude (~3e11)
    carries ~1e-4 of summation-order noise — enough to flip ROUND(,2)
    across engines — while decimal aggregation is exact and
    order-independent at any scale (the first sf1 audit caught exactly
    this: 281148760675.51 vs .50).  Cast back to double only for the
    comparison surface."""
    o = load_table(spark, sf_dir, "orders")
    tier = (
        F.when(F.col("o_totalprice") > 250000, F.lit("high"))
        .when(F.col("o_totalprice") > 100000, F.lit("mid"))
        .otherwise(F.lit("low"))
    )
    return o.groupBy(tier.alias("tier")).agg(
        F.count("*").alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("decimal(18,2)").cast("double").alias("total")
    )


@q("scalar_strings", """
SELECT p_partkey, UPPER(p_brand) AS brand_up, substring(p_name, 1, 5) AS name5,
       concat_ws('-', p_brand, p_type) AS brand_type,
       regexp_replace(p_name, 'a+', 'X', 'g') AS name_x
FROM part""")
def scalar_strings(spark, sf_dir):
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_up"),
        F.substring("p_name", 1, 5).alias("name5"),
        F.concat_ws("-", "p_brand", "p_type").alias("brand_type"),
        F.regexp_replace("p_name", "a+", "X").alias("name_x"),
    )


@q("udf_surface", """
SELECT c_custkey,
       CAST(c_custkey * 2 AS VARCHAR) AS doubled_str,
       CAST(length(c_name) AS INTEGER) AS name_len,
       ROUND(c_acctbal * 2, 2) AS bal_x2
FROM customer""")
def udf_surface(spark, sf_dir):
    """Python UDF surface (§2 row 78): an untyped Glue-style UDF (returns
    STRING by default — the reference's quirk), a typed row-at-a-time UDF,
    and an Arrow-batched pandas UDF, side by side on the same frame."""
    from aws_etl_bank_spark.functions.udf import pandas_scalar_udf, typed_udf, udf

    doubled = udf(lambda k: k * 2)  # untyped → StringType

    @typed_udf(T.IntegerType())
    def name_len(s):
        return len(s) if s is not None else None

    @pandas_scalar_udf(T.DoubleType())
    def bal_x2(s):
        return (s * 2).round(2)

    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        doubled(F.col("c_custkey")).alias("doubled_str"),
        name_len(F.col("c_name")).alias("name_len"),
        bal_x2(F.col("c_acctbal")).alias("bal_x2"),
    )


@q("filter_sql_expr", """
SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
FROM lineitem WHERE l_quantity > 45 AND l_returnflag = 'R'""")
def filter_sql_expr(spark, sf_dir):
    """String-expression filter — ``df.filter("<sql>")`` (§2 row 25), the
    DataFrame-native predicate form the reference uses alongside the
    Python-callable Filter transform."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter("l_quantity > 45 AND l_returnflag = 'R'").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"
    )


@q("string_cleanup", r"""
SELECT o_orderkey,
       CASE WHEN o_orderkey % 7 = 0 THEN '\N'
            ELSE replace(o_orderstatus, chr(10), '\n') END AS status_clean,
       replace(o_orderpriority, '''', '') AS priority_noquote
FROM orders""")
def string_cleanup(spark, sf_dir):
    """Ingest string cleanup (§2 row 64): null sentinel + newline escape +
    quote strip, vectorized.  Nulls are synthesized deterministically
    (every 7th key) since the testdata has none."""
    from aws_etl_bank_spark.functions.columns import clean_csv_value, strip_quotes

    o = load_table(spark, sf_dir, "orders")
    nullable = F.when(F.col("o_orderkey") % 7 == 0, F.lit(None)).otherwise(F.col("o_orderstatus"))
    return o.select(
        "o_orderkey",
        clean_csv_value(nullable).alias("status_clean"),
        strip_quotes(F.col("o_orderpriority")).alias("priority_noquote"),
    )


@q("repartition_coalesce", """
SELECT n_nationkey, n_name, n_regionkey FROM nation""")
def repartition_coalesce(spark, sf_dir):
    """repartition(8) → coalesce(2) content preservation (§2 rows 50-52);
    partition counts themselves are asserted in tests."""
    from aws_etl_bank_spark.operators.dynamicframe import DynamicFrame

    n = DynamicFrame.fromDF(load_table(spark, sf_dir, "nation"), None, "n")
    out = n.repartition(8).coalesce(2)
    if out.getNumPartitions() != 2:  # load-bearing guard (ADVICE r15)
        raise ValueError(
            f"coalesce(2) left {out.getNumPartitions()} partitions")
    return out.toDF().select("n_nationkey", "n_name", "n_regionkey")


@q("explode_split", """
SELECT p_partkey, unnest(string_split(p_name, ' ')) AS word FROM part""")
def explode_split(spark, sf_dir):
    p = load_table(spark, sf_dir, "part")
    return p.select("p_partkey", F.explode(F.split("p_name", " ")).alias("word"))


@q("posexplode_index", """
WITH w AS (
    SELECT p_partkey, unnest(list_sort(list_distinct(string_split(p_name, ' ')))) AS word
    FROM part
)
SELECT p_partkey,
       CAST(ROW_NUMBER() OVER (PARTITION BY p_partkey ORDER BY word) - 1 AS BIGINT) AS idx,
       word
FROM w""")
def posexplode_index(spark, sf_dir):
    """explodeWithIndex (awsglue/functions.py:28-31) → posexplode."""
    p = load_table(spark, sf_dir, "part")
    arr = F.sort_array(F.array_distinct(F.split("p_name", " ")))
    return p.select(
        "p_partkey", F.posexplode(arr).alias("idx", "word")
    ).withColumn("idx", F.col("idx").cast("long"))


@q("replace_array_element", """
SELECT p_partkey, 'X,' || p_type AS replaced FROM part""")
def replace_array_element(spark, sf_dir):
    from aws_etl_bank_spark.functions import replaceArrayElement

    p = load_table(spark, sf_dir, "part")
    arr = F.array("p_brand", "p_type")
    return p.select(
        "p_partkey",
        F.array_join(replaceArrayElement(arr, F.lit("X"), 0), ",").alias("replaced"),
    )


@q("named_struct_op", """
SELECT p_partkey, p_brand AS brand, p_size AS size FROM part""")
def named_struct_op(spark, sf_dir):
    from aws_etl_bank_spark.functions import namedStruct

    p = load_table(spark, sf_dir, "part")
    s = namedStruct("brand", F.col("p_brand"), "size", F.col("p_size"))
    return p.select("p_partkey", s.alias("ns")).select(
        "p_partkey", F.col("ns.brand").alias("brand"), F.col("ns.size").alias("size")
    )


@q("ingestion_time_columns", """
SELECT o_orderkey,
       lpad(CAST(year(o_orderdate) AS VARCHAR), 4, '0') AS ingest_year,
       lpad(CAST(month(o_orderdate) AS VARCHAR), 2, '0') AS ingest_month,
       lpad(CAST(dayofmonth(o_orderdate) AS VARCHAR), 2, '0') AS ingest_day
FROM orders""")
def ingestion_time_columns(spark, sf_dir):
    """Deterministic variant: stamped from o_orderdate instead of
    current_timestamp so the oracle can check values (context.py:666-674)."""
    from aws_etl_bank_spark.functions import add_ingestion_time_columns

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    return add_ingestion_time_columns(o, "day", ts_col=F.col("o_orderdate")).drop("o_orderdate")


@q("csv_allstrings_cast", """
SELECT l_returnflag AS flag, ROUND(SUM(l_quantity), 2) AS sum_qty,
       CAST(COUNT(*) AS BIGINT) AS n
FROM lineitem GROUP BY 1""")
def csv_allstrings_cast(spark, sf_dir):
    """All-strings CSV read + implicit string→double cast in the aggregate
    (reference r2g_account.py:72,85,164; SURVEY.md §8.3).  The CSV round
    trip happens inside the query so both engines see identical source
    rows."""
    path = _scratch(sf_dir, "lineitem_csv")
    li = load_table(spark, sf_dir, "lineitem").select("l_returnflag", "l_quantity")
    li.write.mode("overwrite").option("header", "true").csv(path)
    raw = spark.read.option("header", "true").option("delimiter", ",").csv(path)
    if dict(raw.dtypes)["l_quantity"] != "string":
        raise ValueError(
            "headered CSV read must surface all-string columns; got "
            + dict(raw.dtypes)["l_quantity"])
    return raw.groupBy(F.col("l_returnflag").alias("flag")).agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.count("*").alias("n"),
    )


# ===========================================================================
# Nested restructuring (SURVEY.md §2.9)
# ===========================================================================


@q("unbox_json", """
SELECT event_id, CAST(json_extract(props, '$.k') AS BIGINT) AS k FROM events""")
def unbox_json(spark, sf_dir):
    from aws_etl_bank_spark.operators.dynamicframe import DynamicFrame

    ev = DynamicFrame.fromDF(load_table(spark, sf_dir, "events"), None, "ev")
    unboxed = ev.unbox("props", "json")
    return unboxed.toDF().select("event_id", F.col("props.k").alias("k"))


@q("scd2_merge_dim", """
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
  -- offset by the table max so synthetic keys never collide at any SF
  SELECT c_custkey + (SELECT max(c_custkey) FROM customer) AS c_custkey,
         CAST(NULL AS VARCHAR) AS c_name,
         true AS is_active,
         TIMESTAMP '2024-01-01' AS record_created_time,
         DATE '3000-01-01' AS record_updated_time
  FROM cur WHERE c_custkey % 10 = 7)
SELECT * FROM unchanged UNION ALL SELECT * FROM closed
UNION ALL SELECT * FROM ins UNION ALL SELECT * FROM newk""")
def scd2_merge_dim(spark, sf_dir):
    """Real SCD2 merge (close-out + insert; the reference only stamps —
    SURVEY.md §8.8).  Three update shapes: every 10th customer's name
    changes (close + insert), every (10n+3)th changes to NULL — the first
    business column, exercising presence detection with legitimate NULLs —
    and brand-new keys arrive carrying a NULL name (insert-only)."""
    from aws_etl_bank_spark.scd import scd2_merge, scd2_stamp

    snap = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    current = scd2_stamp(snap, "2020-01-01")
    changed = snap.withColumn(
        "c_name",
        F.when(F.col("c_custkey") % 10 == 0, F.upper("c_name"))
        .when(F.col("c_custkey") % 10 == 3, F.lit(None).cast("string"))
        .otherwise(F.col("c_name")),
    )
    # offset by the table max so synthetic new keys never collide with
    # real keys at any scale factor (fixed 10M collided from SF >= 67)
    max_key = snap.agg(F.max("c_custkey")).first()[0]
    new_keys = snap.filter(F.col("c_custkey") % 10 == 7).select(
        (F.col("c_custkey") + F.lit(max_key)).alias("c_custkey"),
        F.lit(None).cast("string").alias("c_name"),
    )
    updates = changed.unionByName(new_keys)
    return scd2_merge(current, updates, ["c_custkey"], as_of="2024-01-01")


@q("unbox_csv", """
SELECT c_custkey, c_name AS name_part,
       CAST(c_nationkey AS VARCHAR) AS nation_part
FROM customer""")
def unbox_csv(spark, sf_dir):
    """unbox format='csv' with a custom separator (§2 row 66, csv branch):
    a packed string column is parsed back into typed parts."""
    from aws_etl_bank_spark.operators.dynamicframe import DynamicFrame

    c = load_table(spark, sf_dir, "customer").withColumn(
        "packed", F.concat_ws("|", F.col("c_name"), F.col("c_nationkey"))
    )
    dyf = DynamicFrame.fromDF(c, None, "c").unbox("packed", "csv", separator="|")
    return dyf.toDF().select(
        "c_custkey",
        F.col("packed.col0").alias("name_part"),
        F.col("packed.col1").alias("nation_part"),
    )


@q("unnest_struct", """
SELECT c_custkey, c_name AS "info.c_name", c_acctbal AS "info.c_acctbal" FROM customer""")
def unnest_struct(spark, sf_dir):
    from aws_etl_bank_spark.operators.dynamicframe import DynamicFrame

    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", F.struct("c_name", "c_acctbal").alias("info")
    )
    return DynamicFrame.fromDF(c, None, "c").unnest().toDF()


@q("unnest_ddb", """
SELECT c_custkey, c_name AS name_w, CAST(c_nationkey AS DOUBLE) AS nation_w FROM customer""")
def unnest_ddb(spark, sf_dir):
    from aws_etl_bank_spark.operators.dynamicframe import DynamicFrame

    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.struct(F.col("c_name").alias("S")).alias("name_w"),
        F.struct(F.col("c_nationkey").cast("string").alias("N")).alias("nation_w"),
    )
    return DynamicFrame.fromDF(c, None, "c").unnest_ddb_json().toDF()


@q("relationalize_root", """
SELECT DISTINCT o_custkey FROM orders""")
def relationalize_root(spark, sf_dir):
    from aws_etl_bank_spark.operators.dynamicframe import DynamicFrame

    o = load_table(spark, sf_dir, "orders")
    grouped = o.groupBy("o_custkey").agg(
        F.sort_array(F.collect_list("o_orderkey")).alias("order_keys")
    )
    coll = DynamicFrame.fromDF(grouped, None, "g").relationalize("r", key_cols=["o_custkey"])
    return coll.select("r").toDF()


@q("relationalize_child", """
WITH w AS (SELECT o_custkey, o_orderkey FROM orders)
SELECT o_custkey,
       CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) - 1 AS BIGINT) AS index,
       o_orderkey AS val
FROM w""")
def relationalize_child(spark, sf_dir):
    from aws_etl_bank_spark.operators.dynamicframe import DynamicFrame

    o = load_table(spark, sf_dir, "orders")
    grouped = o.groupBy("o_custkey").agg(
        F.sort_array(F.collect_list("o_orderkey")).alias("order_keys")
    )
    coll = DynamicFrame.fromDF(grouped, None, "g").relationalize("r", key_cols=["o_custkey"])
    child = coll.select("r_order_keys").toDF()
    return child.withColumn("index", F.col("index").cast("long"))


@q("spigot_passthrough", """
SELECT * FROM part""")
def spigot_passthrough(spark, sf_dir):
    from aws_etl_bank_spark.operators.dynamicframe import DynamicFrame

    p = DynamicFrame.fromDF(load_table(spark, sf_dir, "part"), None, "p")
    return p.spigot(_scratch(sf_dir, "spigot_out"), {"topk": 10}).toDF()


@q("catalog_pushdown", """
SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
FROM orders WHERE o_orderstatus = 'O'""")
def catalog_pushdown(spark, sf_dir):
    """Catalog read with push_down_predicate on a partitioned layout —
    becomes real partition pruning in the scan (context.py:158-188)."""
    from aws_etl_bank_spark.context import EngineContext
    from aws_etl_bank_spark.sources.catalog import Catalog

    path = _scratch(sf_dir, "orders_partitioned")
    marker = os.path.join(path, "_SUCCESS")
    if not os.path.exists(marker):
        load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
        ).write.mode("overwrite").partitionBy("o_orderstatus").parquet(path)
    ctx = EngineContext(spark, Catalog())
    ctx.catalog.create_table("golden", "orders_p", path, "parquet",
                             partition_keys=["o_orderstatus"])
    frame = ctx.create_dynamic_frame_from_catalog(
        "golden", "orders_p", push_down_predicate="o_orderstatus = 'O'")
    return frame.toDF().select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")


# ===========================================================================
# API-surface operators promoted to oracle checks (SURVEY.md §2.1, §2.4,
# §2.6, §2.9-§2.13 rows previously tests-only)
# ===========================================================================


@q("src_getsource_csv_getframe", """
SELECT c_custkey, c_name, c_acctbal FROM customer""")
def src_getsource_csv_getframe(spark, sf_dir):
    """getSource('file', csv) → DataSource.getFrame (§2 rows 3-4): the
    generic source dispatch + all-strings CSV read, cast back to typed
    columns for the compare."""
    from aws_etl_bank_spark.context import EngineContext

    path = _scratch(sf_dir, "cust_csv_src")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_acctbal")
    cust.write.mode("overwrite").option("header", "true").csv(path)
    ctx = EngineContext(spark)
    src = ctx.getSource("file", format="csv", paths=[path])
    raw = src.getFrame(glue_ctx=ctx, name="cust_csv").toDF()
    if dict(raw.dtypes)["c_acctbal"] != "string":
        raise ValueError(
            "getSource CSV frame must surface all-string columns; got "
            + dict(raw.dtypes)["c_acctbal"])
    return raw.select(
        F.col("c_custkey").cast("long").alias("c_custkey"),
        "c_name",
        F.col("c_acctbal").cast("double").alias("c_acctbal"),
    )


@q("src_parquet_sink_catalog_roundtrip", """
SELECT * FROM nation""")
def src_parquet_sink_catalog_roundtrip(spark, sf_dir):
    """getSink + DataSink.write + setCatalogInfo (§2 rows 2, 10, 11): the
    sink writes parquet AND registers the table in the catalog; the read
    back goes through create_dynamic_frame_from_catalog."""
    from aws_etl_bank_spark.context import EngineContext
    from aws_etl_bank_spark.operators.dynamicframe import DynamicFrame
    from aws_etl_bank_spark.sources.catalog import Catalog

    path = _scratch(sf_dir, "nation_sink")
    ctx = EngineContext(spark, Catalog())
    sink = ctx.getSink("file", format="parquet", path=path)
    sink.setCatalogInfo("golden", "nation_sink")
    sink.write(DynamicFrame.fromDF(load_table(spark, sf_dir, "nation"), ctx, "n"))
    return ctx.create_dynamic_frame_from_catalog("golden", "nation_sink").toDF()


@q("src_sample_frame_full", """
SELECT * FROM nation""")
def src_sample_frame_full(spark, sf_dir):
    """getSampleFrame (§2 row 5) with num above the table size, so the
    sample is the whole table and stays oracle-comparable."""
    from aws_etl_bank_spark.context import EngineContext

    ctx = EngineContext(spark)
    src = ctx.getSource("file", format="parquet",
                        paths=[os.path.join(sf_dir, "nation.parquet")])
    return src.getSampleFrame(100_000, glue_ctx=ctx, name="nation_sample").toDF()


@q("todf_resolve_option_cast", """
SELECT c_custkey, CAST(c_nationkey AS BIGINT) AS v FROM customer""")
def todf_resolve_option_cast(spark, sf_dir):
    """toDF(ResolveOption) (§2 row 71): a drift union makes ``v`` a real
    choice(long, string) column; the DataFrame conversion then applies the
    per-path cast resolution."""
    from aws_etl_bank_spark import gluetypes as gt
    from aws_etl_bank_spark.operators.dynamicframe import DynamicFrame, ResolveOption

    c = load_table(spark, sf_dir, "customer")
    evens = DynamicFrame.fromDF(
        c.filter(F.col("c_custkey") % 2 == 0).select(
            "c_custkey", F.col("c_nationkey").cast("long").alias("v")), None, "evens")
    odds = DynamicFrame.fromDF(
        c.filter(F.col("c_custkey") % 2 == 1).select(
            "c_custkey", F.col("c_nationkey").cast("string").alias("v")), None, "odds")
    u = evens.union(odds)
    if "v" not in u._choices:  # drift must produce a genuine choice column
        raise ValueError(
            f"union produced no choice for 'v' (choices={u._choices});"
            " the resolveChoice cast below would be a no-op")
    return u.toDF([ResolveOption("v", "cast", gt.LongType())])


@q("errors_as_dynamic_frame", """
SELECT c_custkey FROM customer WHERE c_custkey % 5 = 0""")
def errors_as_dynamic_frame(spark, sf_dir):
    """errorsAsDynamicFrame (§2 row 75): rows whose map callable raised
    land in the error channel with the original record as JSON; the query
    returns the failed keys parsed back out of the error records."""
    from aws_etl_bank_spark.operators.dynamicframe import DynamicFrame

    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")

    def fn(rec):
        if rec["c_custkey"] % 5 == 0:
            raise ValueError("planted failure")
        return rec

    dyf = DynamicFrame.fromDF(cust, None, "c")
    out = dyf.map(fn, schema=T.StructType([
        T.StructField("c_custkey", T.LongType()),
        T.StructField("c_name", T.StringType()),
    ]))
    errs = out.errorsAsDynamicFrame().toDF()
    return errs.select(
        F.get_json_object("record", "$.c_custkey").cast("long").alias("c_custkey")
    )


@q("job_bookmark_increment", """
SELECT c_custkey, c_name FROM customer WHERE c_custkey % 2 = 1""")
def job_bookmark_increment(spark, sf_dir):
    """Job bookmarks (§2 row 81): run 1 processes batch1 and commits; the
    second filter_new_files call sees only batch2 — the query returns
    exactly the increment."""
    import shutil

    from aws_etl_bank_spark.jobstate import Job

    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    base = _scratch(sf_dir, "bookmark_src")
    state_dir = _scratch(sf_dir, "bookmark_state")
    shutil.rmtree(base, ignore_errors=True)
    shutil.rmtree(state_dir, ignore_errors=True)
    cust.filter(F.col("c_custkey") % 2 == 0).write.parquet(os.path.join(base, "batch1"))

    job = Job(state_dir=state_dir)
    job.init("bkjob", {"job_bookmark_option": "job-bookmark-enable"})
    pattern = os.path.join(base, "*", "*.parquet")
    first = job.bookmarks.filter_new_files("src", pattern)
    if spark.read.parquet(*first).count() == 0:  # "process" run 1
        raise ValueError("bookmark run 1 saw no new files; the"
                         " incremental contract below is vacuous")
    job.commit()

    cust.filter(F.col("c_custkey") % 2 == 1).write.parquet(os.path.join(base, "batch2"))
    second = job.bookmarks.filter_new_files("src", pattern)
    return spark.read.parquet(*second).select("c_custkey", "c_name")


@q("collection_select_map", """
SELECT c_custkey, c_name FROM customer""")
def collection_select_map(spark, sf_dir):
    """DynamicFrameCollection select/map (§2 row 74): split_fields yields a
    collection, map applies a per-frame transform, select picks one frame."""
    from aws_etl_bank_spark.operators.dynamicframe import DynamicFrame

    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_acctbal")
    coll = DynamicFrame.fromDF(cust, None, "c").split_fields(
        ["c_custkey", "c_name"], "keys", "vals")
    mapped = coll.map(lambda fr, ctx: fr.repartition(4))
    return mapped.select("keys").toDF()


@q("partitions_after_repartition", """
SELECT CAST(8 AS BIGINT) AS num_partitions""")
def partitions_after_repartition(spark, sf_dir):
    """repartition + getNumPartitions actions (§2 rows 50, 52): the
    partition count after an explicit repartition is exact."""
    from aws_etl_bank_spark.operators.dynamicframe import DynamicFrame

    dyf = DynamicFrame.fromDF(load_table(spark, sf_dir, "nation"), None, "n")
    n = dyf.repartition(8).getNumPartitions()
    return spark.createDataFrame([(n,)], "num_partitions long")


@q("catalog_schema_fetch", """
SELECT * FROM (VALUES
  ('c_custkey', 'bigint'), ('c_name', 'string'), ('c_nationkey', 'int'),
  ('c_acctbal', 'double'), ('c_mktsegment', 'string'))
AS t(col_name, col_type)""")
def catalog_schema_fetch(spark, sf_dir):
    """Catalog schema fetch (§2 row 7): crawl registers the table with its
    inferred schema; get_catalog_schema_as_spark_schema returns it as a
    Spark StructType."""
    from aws_etl_bank_spark.context import EngineContext
    from aws_etl_bank_spark.sources.catalog import Catalog

    ctx = EngineContext(spark, Catalog())
    ctx.catalog.crawl(spark, "golden", "customer_c",
                      os.path.join(sf_dir, "customer.parquet"))
    schema = ctx.get_catalog_schema_as_spark_schema("golden", "customer_c")
    rows = [(f.name, f.dataType.simpleString()) for f in schema.fields]
    return spark.createDataFrame(rows, "col_name string, col_type string")
