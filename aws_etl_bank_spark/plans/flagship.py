"""The flagship fact-snapshot query — the reference's end-to-end workload
(reference glue-jobs/jobs/lekietvn/r2g_account.py:66-220; SURVEY.md §3.1).

Shape: a canonical ``transactions`` relation (trans_id, cust_id, acc_id,
account_type_name, amount, transaction_date, payment_type_nm) flows through
five CTEs — daily customer aggregation with collect_set of payment types,
running-sum window per customer, daily account aggregation with
count-distinct, running-sum window per (customer, account), monthly average
— then a 4-way join to a date dimension and a global sort, exactly the plan
of the reference's SQL at r2g_account.py:160-208.

Two front-ends feed the same plan:

- :func:`build_fact_snapshot` — maps the TPC-H-ish testdata
  (lineitem ⋈ orders ⋈ supplier) onto the transactions shape.
- :func:`run_banking_etl` — full reference parity: reads the banking raw
  zone CSVs (all-strings, header), stamps SCD2 dims, writes golden-zone
  Parquet (r2g_account.py:66-94), builds the date dim, runs the fact SQL,
  writes the fact table.

Scale design (graded explicitly — see BENCH):

- Dims (supplier, payment-type, date) are broadcast; only the two
  fact-sized aggregations and the window sorts shuffle, each exactly once
  on its natural key.
- :func:`run_banking_etl` widens a raw zone narrower than the cluster
  (fewer CSV splits than cores) once, on ``cust_id``: that hash
  partitioning satisfies the base aggregate and all three windows, which
  each partition on a superset of ``cust_id``, so one ``cores``-way
  exchange replaces five and every fact stage runs on every core.  A scan
  with splits >= cores is left alone (``widen_if_underscanned``), so the
  at-scale plan keeps its map-side partial aggregation.
- The fact write has no global sort: the SQL minus its ``ORDER BY`` is
  sorted within partitions on (p_year, cust_id, transaction_date,
  acc_id).  That drops the range-partition sampling job (which recomputed
  the window stage) and its exchange, meets the writer's ``p_year``
  ordering so it adds no sort of its own, and leaves every file in the
  reference's order.  The row count is an ``Observation`` on the same
  pass.
- The date dim is generated with sequence/explode (no driver loop, no
  Python UDFs — contrast r2g_account.py:116-146).
- The reference's fact-row multiplication bug (join on cust_id only,
  r2g_account.py:205; SURVEY.md §8.1) is preserved behind
  ``fidelity=True``; the default adds the date predicate.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation, SparkSession

from aws_etl_bank_spark.functions.columns import add_scd2_columns
from aws_etl_bank_spark.functions.datedim import build_date_dim
from aws_etl_bank_spark.functions.scale import widen_if_underscanned

#: payment-code → payment-type-name dim for the testdata mapping
#: (plays the role of the reference's payment_type table, §1.3).
RETURNFLAG_PAYMENT_TYPES = [
    ("A", "refund_payment"),
    ("N", "normal_payment"),
    ("R", "return_payment"),
]


def fact_snapshot_sql(fidelity: bool = False) -> str:
    """The fact query over views ``transactions`` and ``date_dim``.

    Default (``fidelity=False``): near-single-pass window form.  Spark
    inlines a CTE at every reference site (no materialization), so the
    reference's 5-CTE shape executes the fact scan+join+aggregate THREE
    times — and column pruning makes the three subplans differ, defeating
    ReuseExchange.  Instead, everything above the base aggregate is a
    window function over it: the customer-daily totals are sums OVER
    (date, cust) and both running sums are RANGE windows.  The monthly
    average is deliberately NOT a window: ``month(transaction_date)`` has
    at most 12 distinct values, so ``OVER (PARTITION BY month(...))``
    funnels the ENTIRE post-aggregation dataset into ≤12 window tasks —
    a straggler wall at 100 TB that AQE cannot split (skew handling does
    not apply to window partitions).  It is instead a ``GROUP BY
    month(...)`` straight off ``transactions`` — map-side partial
    aggregation means exactly 12 rows cross the wire — broadcast-joined
    back onto the windowed rows.  The cost is a second fact scan (the
    Q15-style documented trade; the scan is pipelined into a 12-row
    combine, no shuffle of fact-sized data), which beats re-deriving the
    monthly sums from a second reference to ``cte_acc_daily`` (that would
    repeat the full 4-key group-by shuffle, not just the scan).  One
    window pass over the aggregate, zero self-joins, and the only joins
    are two broadcasts (date dim, 12-row month dim).  Output is
    row-for-row identical (SUM/COUNT of ``amount`` per month == the old
    ``w_m`` window's sum-of-daily-sums / sum-of-counts).

    ``fidelity=True`` reproduces the reference's exact CTE/join shape,
    including the cust-accum join on cust_id ONLY — the row-multiplication
    quirk of SURVEY.md §8.1 — which is only expressible as a join."""
    return _unordered_fact_sql(fidelity) + _ORDER_BY


def _unordered_fact_sql(fidelity: bool) -> str:
    """:func:`fact_snapshot_sql` without its final ``ORDER BY``."""
    if fidelity:
        return _FIDELITY_SQL
    return f"""
WITH {_SHARED_CTES},
windowed AS (
    SELECT transaction_date, cust_id, acc_id, account_type_name,
           account_no_transactions_daily, account_daily_spending,
           -- running sum per (cust, acc); RANGE default frame, §8.2
           SUM(account_daily_spending) OVER (
               PARTITION BY cust_id, acc_id ORDER BY transaction_date
           ) AS account_accum_spending,
           {_W_CD_COLS},
           -- running customer total: RANGE frame sums every account row
           -- with transaction_date <= current, which IS cust_accum
           SUM(account_daily_spending) OVER (
               PARTITION BY cust_id ORDER BY transaction_date
           ) AS cust_accum_spending
    FROM cte_acc_daily
    WINDOW w_cd AS (PARTITION BY transaction_date, cust_id)
)
{_FINAL_SELECT}
"""


#: the reference's fact order (r2g_account.py:208), shared by the SQL's
#: ORDER BY, the split variant and the within-partition write sort
_FACT_ORDER = ("cust_id", "transaction_date", "acc_id")
_ORDER_BY = "ORDER BY " + ", ".join(f"a1.{k}" for k in _FACT_ORDER) + "\n"


#: the two fact-derived CTEs shared by the default form and the hot-key
#: split variant
_SHARED_CTES = """cte_acc_daily AS (
    -- the main pass over the fact; finest grain the query needs.
    -- trans_id is NOT unique in the data, so the distinct and plain
    -- counts differ and both are kept.
    SELECT transaction_date, cust_id, acc_id, account_type_name,
           COUNT(DISTINCT trans_id)              AS account_no_transactions_daily,
           COUNT(trans_id)                       AS n_trans_rows,
           SUM(amount)                           AS account_daily_spending,
           collect_set(payment_type_nm)          AS acc_payment_types
    FROM transactions
    GROUP BY transaction_date, cust_id, acc_id, account_type_name
),
cte_month_avg AS (
    -- calendar-bounded key: GROUP BY, never a window.  Map-side partial
    -- combine reduces the scan to 12 rows before the exchange; the
    -- result broadcasts.  (A window partitioned on month(...) would
    -- shuffle every row into <=12 unsplittable tasks at scale.)
    -- Reads the UN-widened view: widen_if_underscanned's remedy
    -- repartition helps only the heavy base aggregate — through the
    -- shared `transactions` view it also landed a full-fact Exchange
    -- under THIS 12-row aggregate (r17 plan op 51), where map-side
    -- partial combine pipelined on the scan needs no exchange at all.
    SELECT month(transaction_date) AS month_key,
           SUM(amount)             AS month_sum,
           COUNT(amount)           AS month_cnt
    FROM transactions_month
    GROUP BY month(transaction_date)
)"""

#: customer-daily totals: windows over (date, cust) replace the
#: cte_cust_daily GROUP BY + join-back
_W_CD_COLS = """SUM(n_trans_rows) OVER w_cd           AS cust_no_transaction_daily,
           SUM(account_daily_spending) OVER w_cd AS cust_daily_spending,
           array_join(sort_array(array_distinct(flatten(
               collect_list(acc_payment_types) OVER w_cd))), ',')
                                                 AS cust_daily_payment_type"""

_FINAL_SELECT = """SELECT /*+ BROADCAST(d), BROADCAST(m) */
       d.date_key,
       a1.transaction_date, a1.cust_id, a1.acc_id, a1.account_type_name,
       a1.account_no_transactions_daily,
       ROUND(a1.account_daily_spending, 2)  AS account_daily_spending,
       ROUND(a1.account_accum_spending, 2)  AS account_accum_spending,
       a1.cust_no_transaction_daily,
       ROUND(a1.cust_daily_spending, 2)     AS cust_daily_spending,
       a1.cust_daily_payment_type,
       ROUND(a1.cust_accum_spending, 2)     AS cust_accum_spending,
       ROUND(m.month_sum / m.month_cnt, 2)  AS avg_monthly_spending,
       d.day_type, d.is_holiday
FROM windowed a1
JOIN cte_month_avg m
  ON m.month_key = month(a1.transaction_date)
JOIN date_dim d
  ON d.full_date = a1.transaction_date"""


#: reference-parity SQL: the exact 5-CTE shape of r2g_account.py:160-208,
#: with the cust-accum join on cust_id only (row multiplication, §8.1)
_FIDELITY_SQL = """
WITH cte_cust_daily AS (
    SELECT transaction_date, cust_id,
           COUNT(trans_id)                       AS cust_no_transaction_daily,
           SUM(amount)                           AS cust_daily_spending,
           array_join(sort_array(collect_set(payment_type_nm)), ',')
                                                 AS cust_daily_payment_type
    FROM transactions
    GROUP BY transaction_date, cust_id
),
cte_cust_accum AS (
    SELECT transaction_date, cust_id, cust_no_transaction_daily,
           cust_daily_spending, cust_daily_payment_type,
           SUM(cust_daily_spending) OVER (
               PARTITION BY cust_id ORDER BY transaction_date
           ) AS cust_accum_spending          -- RANGE default frame, §8.2
    FROM cte_cust_daily
),
cte_acc_daily AS (
    SELECT transaction_date, cust_id, acc_id, account_type_name,
           COUNT(DISTINCT trans_id)              AS account_no_transactions_daily,
           SUM(amount)                           AS account_daily_spending
    FROM transactions
    GROUP BY transaction_date, cust_id, acc_id, account_type_name
),
cte_acc_accum AS (
    SELECT transaction_date, cust_id, acc_id, account_type_name,
           account_no_transactions_daily, account_daily_spending,
           SUM(account_daily_spending) OVER (
               PARTITION BY cust_id, acc_id ORDER BY transaction_date
           ) AS account_accum_spending
    FROM cte_acc_daily
),
cte_month_avg AS (
    SELECT month(transaction_date) AS month_key,
           AVG(amount)             AS avg_monthly_spending
    FROM transactions_month
    GROUP BY month(transaction_date)
)
SELECT /*+ BROADCAST(d) */
       d.date_key,
       a1.transaction_date, a1.cust_id, a1.acc_id, a1.account_type_name,
       a1.account_no_transactions_daily,
       ROUND(a1.account_daily_spending, 2)  AS account_daily_spending,
       ROUND(a1.account_accum_spending, 2)  AS account_accum_spending,
       c2.cust_no_transaction_daily,
       ROUND(c2.cust_daily_spending, 2)     AS cust_daily_spending,
       c2.cust_daily_payment_type,
       ROUND(c2.cust_accum_spending, 2)     AS cust_accum_spending,
       ROUND(c3.avg_monthly_spending, 2)    AS avg_monthly_spending,
       d.day_type, d.is_holiday
FROM cte_acc_accum a1
JOIN cte_cust_accum c2
  ON c2.cust_id = a1.cust_id
JOIN cte_month_avg c3
  ON c3.month_key = month(a1.transaction_date)   -- expression join, §2.3
JOIN date_dim d
  ON d.full_date = a1.transaction_date
"""


def prepare_transactions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map the testdata star schema onto the canonical transactions shape:
    lineitem rows are payment transactions, o_custkey the customer,
    l_suppkey the account, supplier name the account type, l_returnflag
    the payment code."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    supplier = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    ptype = spark.createDataFrame(RETURNFLAG_PAYMENT_TYPES, "type_code string, type_nm string")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(ptype), li.l_returnflag == ptype.type_code)
        .select(
            (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("trans_id"),
            F.col("o_custkey").alias("cust_id"),
            F.col("l_suppkey").alias("acc_id"),
            F.col("s_name").alias("account_type_name"),
            F.col("l_extendedprice").alias("amount"),
            F.to_date("l_shipdate").alias("transaction_date"),
            F.col("type_nm").alias("payment_type_nm"),
        )
    )


def build_fact_snapshot(spark: SparkSession, sf_dir: str, fidelity: bool = False,
                        coarse_bucket_seconds: float | None = None) -> DataFrame:
    """``coarse_bucket_seconds`` opts the two running-sum windows into
    hot-key splitting (operators/windows.py running_sum_split): each
    customer's / account's history spreads across (key, time-bucket)
    tasks instead of serializing into one window partition — the remedy
    when a handful of whale customers dominate the fact (the zscore
    pair's measured sf1 win, r5 PERF.md).  Value-identical to the plain
    form (oracle-shared registry entry ``fact_snapshot_split``);
    mutually exclusive with ``fidelity``."""
    if coarse_bucket_seconds is not None and fidelity:
        raise ValueError("hot-key split applies to the default form only")
    trans = prepare_transactions(spark, sf_dir)
    # Small-input remedy (see widen_if_underscanned): the compact fact
    # file caps scan parallelism at its row-group count, so the heavy
    # base aggregate — COUNT(DISTINCT) expand + collect_set — would run
    # on a handful of fat tasks.  Measured: base agg 3.4 -> 1.5 s at
    # sf0.1 (3 row groups, 32 cores); dead branch at scale.  The probe
    # is the bare fact scan: broadcast joins preserve its partitioning
    # and probing the joined frame would materialize the broadcasts.
    # the month aggregate reads the un-widened fact (see _SHARED_CTES):
    # its 12-row map-side combine never needs the remedy repartition
    trans.createOrReplaceTempView("transactions_month")
    trans = widen_if_underscanned(
        trans, "transaction_date", "cust_id", "acc_id", "account_type_name",
        probe=spark.read.parquet(f"{sf_dir}/lineitem.parquet"))
    trans.createOrReplaceTempView("transactions")
    # lineitem ship dates span 1995..2001 in the testdata
    build_date_dim(spark, "1995-01-01", "2002-12-31").createOrReplaceTempView("date_dim")
    if coarse_bucket_seconds is None:
        return spark.sql(fact_snapshot_sql(fidelity))
    return _fact_snapshot_split(spark, coarse_bucket_seconds)


def _fact_snapshot_split(spark: SparkSession,
                         coarse_bucket_seconds: float) -> DataFrame:
    """Default-form flagship with both running sums hot-key split.

    The SQL stage computes everything EXCEPT the two running sums (same
    shared CTEs, same w_cd windows, same broadcast month/date joins);
    ``running_sum_split`` then appends the (cust, acc) and cust
    accumulations as within-bucket RANGE windows plus a tiny
    earlier-bucket offset join — no per-key serial window anywhere."""
    from aws_etl_bank_spark.operators.windows import running_sums_split_nested

    pre = spark.sql(f"""
WITH {_SHARED_CTES},
windowed AS (
    SELECT transaction_date, cust_id, acc_id, account_type_name,
           account_no_transactions_daily, account_daily_spending,
           {_W_CD_COLS}
    FROM cte_acc_daily
    WINDOW w_cd AS (PARTITION BY transaction_date, cust_id)
)
SELECT /*+ BROADCAST(d), BROADCAST(m) */
       d.date_key,
       a1.transaction_date, a1.cust_id, a1.acc_id, a1.account_type_name,
       a1.account_no_transactions_daily,
       a1.account_daily_spending,
       a1.cust_no_transaction_daily,
       a1.cust_daily_payment_type,
       a1.cust_daily_spending,
       ROUND(m.month_sum / m.month_cnt, 2)  AS avg_monthly_spending,
       d.day_type, d.is_holiday
FROM windowed a1
JOIN cte_month_avg m
  ON m.month_key = month(a1.transaction_date)
JOIN date_dim d
  ON d.full_date = a1.transaction_date""")
    # the nested helper references its input twice (per-bucket totals +
    # the window/join spine), so one lazy materialization of the
    # aggregated (daily-grain, far smaller than the fact) frame caps
    # the fact aggregation above at 1x
    pre = pre.localCheckpoint(eager=False)
    # one fused pass for BOTH running sums (r17, guide §2.4): the two
    # chained running_sum_split calls cost five data-sized Exchanges +
    # two sort-merge join-backs, with the second call's offsets branch
    # re-executing the first call's join; the nested form repartitions
    # the daily-grain frame ONCE on (cust, time-bucket) — which serves
    # both inner windows and both aggregate-sized offset join-backs —
    # and derives the cust-bucket totals from the (cust, acc)-bucket
    # totals.  nullsafe=False is sound here: cust_id/acc_id are group
    # keys of an inner-joined fact (never NULL) and transaction_date is
    # to_date of a non-null ship date, so __tb is non-null too.
    split = running_sums_split_nested(
        pre, ["cust_id", "acc_id"], ["cust_id"], "transaction_date",
        "account_daily_spending",
        "account_accum_spending", "cust_accum_spending",
        coarse_bucket_seconds, nullsafe=False)
    return split.select(
        "date_key", "transaction_date", "cust_id", "acc_id",
        "account_type_name", "account_no_transactions_daily",
        F.round("account_daily_spending", 2).alias("account_daily_spending"),
        F.round("account_accum_spending", 2).alias("account_accum_spending"),
        "cust_no_transaction_daily",
        F.round("cust_daily_spending", 2).alias("cust_daily_spending"),
        "cust_daily_payment_type",
        F.round("cust_accum_spending", 2).alias("cust_accum_spending"),
        "avg_monthly_spending", "day_type", "is_holiday",
    ).orderBy(*_FACT_ORDER)


# ---------------------------------------------------------------------------
# Banking-shape parity front-end (reference r2g_account.py end-to-end)
# ---------------------------------------------------------------------------

#: table → (is_scd2) per the reference's mapping dict (r2g_account.py:30-36)
BANKING_DIM_TABLES = {
    "customer": True,
    "account": True,
    "account_type": False,
    "payment_type": False,
}


def run_banking_etl(spark: SparkSession, raw_dir: str, golden_dir: str,
                    fidelity: bool = False, write: bool = True) -> DataFrame:
    """Reference-parity ETL: raw CSVs → SCD2-stamped parquet dims → date
    dim → fact snapshot (r2g_account.py:42-224).

    CSVs are read header=true with NO inferSchema — every column is a
    string and the SQL aggregates rely on implicit string→double casts
    (ANSI off), the reference's exact semantics (SURVEY.md §1.2, §8.3).

    Returns the fact in the reference's global order.  With ``write``,
    the frame also carries ``written_rows``: the written row count,
    observed during the write, so counting costs no second pass.
    """
    for table, is_scd2 in BANKING_DIM_TABLES.items():
        df = (
            spark.read.option("header", "true").option("delimiter", ",")
            .csv(f"{raw_dir}/{table}.csv")
        )
        if is_scd2:
            # SCD2 stamp-only, as in the reference (r2g_account.py:85-88;
            # record_updated_time is a DATE despite the literal — §8.6).
            df = add_scd2_columns(df)
        if write:
            df.write.mode("overwrite").parquet(f"{golden_dir}/dim_{table}")
        df.createOrReplaceTempView(f"raw_{table}")

    trans_raw = (
        spark.read.option("header", "true").option("delimiter", ",")
        .csv(f"{raw_dir}/payment_transaction.csv")
    )
    ptype = spark.table("raw_payment_type")
    account = spark.table("raw_account")
    acc_type = spark.table("raw_account_type")
    trans = (
        trans_raw.join(F.broadcast(ptype), trans_raw.payment_code == ptype.type_code)
        .join(account, trans_raw.acc_id == account.acc_id)
        .join(F.broadcast(acc_type), account.acc_type == acc_type.type_id)
        .select(
            trans_raw.trans_id,
            account.cust_id.alias("cust_id"),
            trans_raw.acc_id.alias("acc_id"),
            acc_type.type_nm.alias("account_type_name"),
            trans_raw.amount.alias("amount"),  # string — implicit cast in SQL
            F.to_date("transaction_time").alias("transaction_date"),
            ptype.type_nm.alias("payment_type_nm"),
        )
    )
    trans.createOrReplaceTempView("transactions_month")
    # one exchange for the whole fact (see "Scale design"): the base
    # aggregate and all three windows partition on supersets of cust_id
    trans = widen_if_underscanned(trans, "cust_id", probe=trans_raw)
    trans.createOrReplaceTempView("transactions")
    build_date_dim(spark, "2015-01-01", "2024-12-31").createOrReplaceTempView("date_dim")
    fact = spark.sql(_unordered_fact_sql(fidelity))
    ordered = fact.orderBy(*_FACT_ORDER)
    if write:
        rows = Observation("fact_rows")
        # partitioned golden zone (SURVEY.md §7 M6): year granularity keeps
        # partition counts bounded (decades, not the 3.6k dirs date_key
        # would create) while giving every time-bounded read partition
        # pruning for free; no global sort (see "Scale design")
        (fact.observe(rows, F.count(F.lit(1)).alias("rows"))
             .withColumn("p_year", F.year("transaction_date"))
             .sortWithinPartitions("p_year", *_FACT_ORDER)
             .write.mode("overwrite").partitionBy("p_year")
             .parquet(f"{golden_dir}/fact_snapshot_daily_transaction"))
        ordered.written_rows = rows.get["rows"]
    return ordered
