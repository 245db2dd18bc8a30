"""Flagship query + plan-quality tests (SURVEY.md §3.1, 100 TB posture).

Beyond row-level correctness (covered by the DuckDB oracle harness in
scripts/verify_entry.py), these assert the *physical plan* is the one
you'd want on a 1000-executor cluster: dims broadcast, filters pushed to
the parquet scan, no Python UDFs in the fact path.
"""

import pyspark.sql.functions as F
import pytest

from tests.conftest import SF_SMOKE


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def fact(spark):
    from aws_etl_bank_spark.plans.flagship import build_fact_snapshot

    return build_fact_snapshot(spark, SF_SMOKE, fidelity=False)


def test_flagship_smoke_rows_and_schema(fact):
    assert fact.count() > 0
    expected = {
        "date_key", "transaction_date", "cust_id", "acc_id", "account_type_name",
        "account_no_transactions_daily", "account_daily_spending",
        "account_accum_spending", "cust_no_transaction_daily",
        "cust_daily_spending", "cust_daily_payment_type", "cust_accum_spending",
        "avg_monthly_spending", "day_type", "is_holiday",
    }
    assert expected <= set(fact.columns)


def test_flagship_broadcasts_small_dims(fact):
    plan = _plan(fact)
    assert "BroadcastHashJoin" in plan  # payment-type / month-avg dims broadcast


def test_flagship_no_python_udf_in_plan(fact):
    plan = _plan(fact)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_flagship_fidelity_multiplies_rows(spark):
    from aws_etl_bank_spark.plans.flagship import build_fact_snapshot

    base = build_fact_snapshot(spark, SF_SMOKE, fidelity=False).count()
    fid = build_fact_snapshot(spark, SF_SMOKE, fidelity=True).count()
    # §8.1: the reference's cust-only join duplicates rows per distinct
    # transaction date of the customer.
    assert fid > base


def test_scan_prunes_columns(spark):
    from aws_etl_bank_spark.sources.testdata import load_table

    df = load_table(spark, SF_SMOKE, "lineitem").select("l_orderkey", "l_quantity")
    plan = _plan(df)
    scan_line = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_comment" not in scan_line  # projection reached the scan


def test_scan_pushes_filters(spark):
    from aws_etl_bank_spark.sources.testdata import load_table

    df = load_table(spark, SF_SMOKE, "lineitem").filter(F.col("l_quantity") > 40) \
        .select("l_orderkey")
    plan = _plan(df)
    assert "PushedFilters: [" in plan
    assert "GreaterThan(l_quantity" in plan


def test_date_dim_has_no_python_udfs(spark):
    from aws_etl_bank_spark.functions.datedim import build_date_dim

    dim = build_date_dim(spark, "2024-01-01", "2024-12-31")
    assert dim.count() == 366
    plan = _plan(dim)
    assert "BatchEvalPython" not in plan
    row = dim.filter(F.col("date_key") == "20240430").collect()[0]
    assert row["is_holiday"] is True
    assert row["week_of_month"] == "5" and isinstance(row["week_of_month"], str)


def test_entry_contract(spark):
    import __spark_entry__ as entrymod

    df = entrymod.entry(spark)
    assert df.count() >= 0
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert len(qs) >= 60
    assert set(oracles) <= set(qs)
    # every non-oracle entry is a documented hash-family/approx op
    assert len(set(qs) - set(oracles)) <= 12


def test_flagship_fact_passes_and_no_calendar_window(fact):
    """The 100 TB properties of the window rewrite: exactly TWO fact
    scans (the window pass + the monthly GROUP BY's documented
    Q15-style second scan, which map-side-combines to 12 rows), no
    fact-sized self-join, and — the r5 verdict's perf-weak item — NO
    window partitioned on a calendar-bounded key: ``OVER (PARTITION BY
    month(...))`` would funnel all rows into <=12 unsplittable tasks."""
    plan = _plan(fact)
    assert plan.count("lineitem") == 2
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # every windowspecdefinition must NOT partition on month(...)/year(...)
    import re
    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        assert "month(" not in spec and "year(" not in spec, spec


def test_flagship_sql_has_no_calendar_window():
    from aws_etl_bank_spark.plans.flagship import fact_snapshot_sql

    sql = fact_snapshot_sql(fidelity=False)
    assert "PARTITION BY month" not in sql
    assert "GROUP BY month(transaction_date)" in sql


def test_flagship_split_spreads_hot_customer(spark):
    """VERDICT r5 item 7: the split variant's running-sum windows
    partition on (key..., __tb) — a whale customer's history lands in
    >1 window task.  Checked structurally: every per-key running-sum
    windowspec in the split plan carries the __tb bucket column, and
    the result is row-identical to the plain form."""
    from aws_etl_bank_spark.plans.flagship import build_fact_snapshot

    sf = "/root/testdata/sf0.001"
    split = build_fact_snapshot(spark, sf, coarse_bucket_seconds=90 * 86400.0)
    plan = split._jdf.queryExecution().optimizedPlan().toString()
    import re
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    cust_specs = [s for s in specs
                  if "cust_id" in s
                  and re.search(r"transaction_date#\d+ ASC", s)]
    assert cust_specs, "running-sum windows missing from split plan"
    assert all("__tb" in s for s in cust_specs), cust_specs
    plain = build_fact_snapshot(spark, sf)
    assert split.exceptAll(plain).count() == 0
    assert plain.exceptAll(split).count() == 0


def test_demo_job_parity(spark, scratch):
    """Reference demo.py: all-strings CSV -> golden parquet; coalesce(1)
    only behind the single_file flag."""
    import os

    from aws_etl_bank_spark.plans.demo import run_demo_job

    src = f"{scratch}/landing.csv"
    with open(src, "w") as f:
        f.write("id,name\n1,ann\n2,bob\n")
    golden = f"{scratch}/demo_table"
    df = run_demo_job(spark, src, golden, single_file=True)
    assert dict(df.dtypes) == {"id": "string", "name": "string"}  # no inferSchema
    back = spark.read.parquet(golden)
    assert back.count() == 2
    assert len([p for p in os.listdir(golden) if p.endswith(".parquet")]) == 1  # coalesce(1)


def test_tpch_plans_have_the_right_shape(spark):
    """q3 must compile its ORDER BY+LIMIT to TakeOrderedAndProject (a
    per-partition top-k, never a global sort); q5's five dims must all
    broadcast; no TPC-H entry may fall back to a sort-merge join at
    this scale."""
    from aws_etl_bank_spark.plans.registry import load_registry
    registry = load_registry()

    sf = "/root/testdata/sf0.001"
    q3 = registry["tpch_q3_shipping_priority"].fn(spark, sf)
    p3 = q3._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in p3
    q5 = registry["tpch_q5_local_supplier_volume"].fn(spark, sf)
    p5 = q5._jdf.queryExecution().executedPlan().toString()
    assert p5.count("BroadcastHashJoin") == 5
    for name in ("tpch_q1_pricing_summary", "tpch_q18_large_volume_customer"):
        p = registry[name].fn(spark, sf)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "SortMergeJoin" not in p, name


def test_tpch_completion_set_plan_shape(spark):
    """The adapted Q2/Q9/Q19/Q20/Q21 set must not sort-merge join —
    after the window rewrites their only unbounded-side "joins" are
    windows over the fact's own shuffle key or dim broadcasts; Q2 must
    scan lineitem exactly ONCE (the aggregate-plus-join-back form
    recomputed the whole eligible subtree on both sides); Q21's
    EXISTS/NOT-EXISTS rewrite must carry no join beyond the supplier
    broadcast (the per-order counts are windows, not self-joins)."""
    from aws_etl_bank_spark.plans.registry import load_registry
    registry = load_registry()

    sf = "/root/testdata/sf0.001"
    for name in ("tpch_q2_min_cost_supplier", "tpch_q9_product_type_profit",
                 "tpch_q19_disjunctive_revenue",
                 "tpch_q20_potential_promotion", "tpch_q21_waiting_supplier"):
        p = registry[name].fn(spark, sf)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "SortMergeJoin" not in p, name
        assert "CartesianProduct" not in p, name
    p2 = registry["tpch_q2_min_cost_supplier"].fn(spark, sf) \
        ._jdf.queryExecution().executedPlan().toString()
    assert p2.count("FileScan parquet") == 5  # lineitem once + 4 dims
    # Q17/Q18's correlated aggregates are windows too: lineitem must be
    # scanned exactly once (the join-back form scanned it twice, and
    # Q17's old all-parts cuts broadcast could not broadcast at scale)
    import re
    for name in ("tpch_q17_small_quantity", "tpch_q18_large_volume_customer"):
        p = registry[name].fn(spark, sf)._jdf.queryExecution() \
            .executedPlan().toString()
        li_scans = [s for s in re.findall(r"FileScan parquet \[([^\]#]*)", p)
                    if s.startswith("l_")]
        assert len(li_scans) == 1, name
    p21 = registry["tpch_q21_waiting_supplier"].fn(spark, sf) \
        ._jdf.queryExecution().executedPlan().toString()
    assert p21.count("Window") == 1  # both per-order counts share one window


def test_new_sampling_and_rollup_plan_shape(spark):
    """sample_weighted_priority must be a per-partition top-k
    (TakeOrderedAndProject), never a global sort; ts_active_users_7d
    must broadcast the day dimension and contain no nested-loop join
    (the naive interval-join form would be one)."""
    from aws_etl_bank_spark.plans.registry import load_registry
    registry = load_registry()

    sf = "/root/testdata/sf0.001"
    pw = registry["sample_weighted_priority"].fn(spark, sf) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in pw
    assert "Sort " not in pw
    pa = registry["ts_active_users_7d"].fn(spark, sf) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in pa
    assert "CartesianProduct" not in pa


def test_triangle_fixture_invariants(spark):
    """One lazy plan: every join is a hash equi-join except the two
    bounded single-row count cross-joins; the planted hub must close
    some but not most edges."""
    from aws_etl_bank_spark.plans.registry import load_registry
    registry = load_registry()

    df = registry["graph_triangle_count"].fn(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    row = df.collect()[0]
    assert row.n_triangles > 0 and row.n_edges > row.n_triangles


def test_velocity_windows_share_one_exchange_and_sort(spark):
    """Both RANGE frames (1 h and 24 h) key on (user_id, us) — the plan
    must evaluate them over ONE exchange and ONE sort, not one per
    frame."""
    from aws_etl_bank_spark.plans.registry import load_registry
    registry = load_registry()

    p = registry["feature_velocity_windows"].fn(spark, "/root/testdata/sf0.001") \
        ._jdf.queryExecution().executedPlan().toString()
    assert p.count("Exchange") == 1
    assert p.count("Sort ") == 1
    pd_ = registry["feature_decayed_velocity"].fn(spark, "/root/testdata/sf0.001") \
        ._jdf.queryExecution().executedPlan().toString()
    assert pd_.count("Exchange") == 1
    assert pd_.count("Sort ") == 1


def test_per_group_sample_uses_window_group_limit(spark):
    """The rank<=k filter must push into WindowGroupLimit so map tasks
    forward only k rows per group before the shuffle."""
    from aws_etl_bank_spark.plans.registry import load_registry
    registry = load_registry()

    p = registry["sample_per_group_bottomk"].fn(spark, "/root/testdata/sf0.001") \
        ._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in p
    assert p.count("Exchange") == 1


def test_ols_matches_numpy(spark):
    """Cramer-rule coefficients must equal numpy's least-squares fit on
    the same features (independent solver, same data)."""
    import numpy as np

    from aws_etl_bank_spark.plans.registry import load_registry
    registry = load_registry()
    from aws_etl_bank_spark.sources.testdata import load_table
    import pyspark.sql.functions as F

    sf = "/root/testdata/sf0.001"
    got = registry["ml_ols_closed_form"].fn(spark, sf).collect()[0]
    f = load_table(spark, sf, "events").select(
        (F.expr("unix_micros(cast(ts as timestamp)) div 86400000000")
         - 19723).alias("x1"),
        F.expr("pmod(unix_micros(cast(ts as timestamp)) div 3600000000, 24)")
        .alias("x2"),
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("y")).collect()
    X = np.array([[1.0, r.x1, r.x2] for r in f])
    y = np.array([float(r.y) for r in f])
    beta = np.linalg.lstsq(X, y, rcond=None)[0]
    assert abs(got.beta0 - beta[0]) < 1e-4
    assert abs(got.beta1 - beta[1]) < 1e-4
    assert abs(got.beta2 - beta[2]) < 1e-4


def test_interval_overlap_no_nested_loop(spark):
    """The banded interval-overlap join must stay a hash equi-join on
    (day, bucket) — a BroadcastNestedLoopJoin means the non-equi form
    leaked through."""
    from aws_etl_bank_spark.plans.registry import load_registry
    registry = load_registry()

    p = registry["join_interval_overlap"].fn(spark, "/root/testdata/sf0.001") \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_distribute_sort_by_plan_is_local_sort(spark):
    """DISTRIBUTE BY / SORT BY must plan as one hash Exchange plus a
    partition-LOCAL sort — a global Sort or range Exchange means the
    dialect lowered to ORDER BY semantics by mistake."""
    from aws_etl_bank_spark.plans.registry import load_registry
    registry = load_registry()

    p = registry["sql_distribute_sort_by"].fn(
        spark, "/root/testdata/sf0.001") \
        ._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(o_orderstatus" in p
    assert "rangepartitioning" not in p
    assert "Sort [o_orderkey" in p and "false, 0" in p  # global=false


def test_named_window_clause_single_window_operator(spark):
    """Three functions over one named WINDOW spec must plan as ONE
    Window node (one shuffle + one sort), not three."""
    from aws_etl_bank_spark.plans.registry import load_registry
    registry = load_registry()

    p = registry["sql_named_window_clause"].fn(
        spark, "/root/testdata/sf0.001") \
        ._jdf.queryExecution().executedPlan().toString()
    assert p.count("Window [") == 1, p


def test_udtf_analyze_rejects_non_literal_width(spark):
    """The polymorphic UDTF's analyze() gates its schema-driving arg on
    isConstantExpression: a column-valued width must fail at ANALYSIS
    time (plan construction), never mid-job on an executor."""
    import pytest

    from aws_etl_bank_spark.plans.registry import load_registry
    registry = load_registry()

    # registering the UDTF is a side effect of running the entry once
    registry["udtf_polymorphic_analyze"].fn(
        spark, "/root/testdata/sf0.001").collect()
    with pytest.raises(Exception, match="(?i)literal|constant"):
        spark.sql("""
            SELECT sp.* FROM __udtfa_orders,
            LATERAL __r14_split_parts(o_orderpriority,
                                      CAST(o_orderkey AS INT)) sp
        """).collect()


def test_session_variable_folds_to_pushed_filter(spark):
    """A session variable used in WHERE must fold to a literal at plan
    time so the comparison reaches the parquet scan as a pushed
    filter — if it stayed an unresolved variable node the filter would
    evaluate post-scan."""
    from aws_etl_bank_spark.plans.registry import load_registry
    registry = load_registry()

    df = registry["sql_session_variables"].fn(
        spark, "/root/testdata/sf0.001")
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(o_totalprice), GreaterThan(o_totalprice" in p, p


def test_session_window_batch_plan_single_exchange(spark):
    """agg_session_window_batch (r15): the Catalyst-native batch
    session_window must plan as ONE hash exchange on the grouping key
    with a map-side partial aggregate — the whole point over the
    window-then-regroup double pass.  At 100 TB a second exchange here
    would dominate the query."""
    from aws_etl_bank_spark.plans.registry import load_registry
    registry = load_registry()

    df = registry["agg_session_window_batch"].fn(spark, SF_SMOKE)
    plan = _plan(df)
    assert plan.count("Exchange") == 1, plan
    assert "partial_count" in plan  # map-side combine before the shuffle
