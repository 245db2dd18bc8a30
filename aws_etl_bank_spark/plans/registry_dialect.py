"""SQL-dialect surfaces (scripting, parameterized SQL, PIVOT, collations, crypto), canary, r15 window/session/validation entries — registry entries (formerly registry.py lines 8370-end).

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
# r14 SQL-surface sweep: conditional/boolean aggregates, parameterized &
# dynamic SQL (named markers, EXECUTE IMMEDIATE, IDENTIFIER), GROUP BY
# ALL, TABLESAMPLE, session variables, SQL PIVOT clause
# ===========================================================================


@q("agg_conditional_bool_family", """
SELECT o_orderstatus AS status,
       CAST(COUNT(*) FILTER (WHERE o_totalprice > 200000) AS BIGINT)
           AS n_big,
       bool_and(o_totalprice > 0) AS all_positive,
       bool_or(o_orderpriority = '1-URGENT') AS any_urgent,
       o_orderstatus AS status_copy
FROM orders GROUP BY o_orderstatus""")
def agg_conditional_bool_family(spark, sf_dir):
    """Conditional/boolean aggregate family: ``count_if`` (one-pass
    conditional count — the FILTER-clause equivalent without a
    subquery), ``bool_and``/``bool_or`` (universal/existential
    quantifiers as aggregates), and ``any_value`` pinned DETERMINISTIC
    by applying it to a group-constant expression (any_value of the
    group key itself) — the only shape where its result is
    oracle-comparable.  All four run inside the same partial+final
    hash aggregate as the plain counts, so the 100 TB cost is one
    map-side-combined pass."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(F.col("o_orderstatus").alias("status"))
        .agg(
            F.count_if(F.col("o_totalprice") > 200000).alias("n_big"),
            F.bool_and(F.col("o_totalprice") > 0).alias("all_positive"),
            F.bool_or(F.col("o_orderpriority") == "1-URGENT")
             .alias("any_urgent"),
            F.any_value(F.col("o_orderstatus")).alias("status_copy"),
        )
    )


@q("sql_execute_immediate", """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
FROM orders
WHERE o_totalprice > 150000
GROUP BY o_orderpriority""")
def sql_execute_immediate(spark, sf_dir):
    """``EXECUTE IMMEDIATE`` (Spark 4 dynamic SQL): the statement text
    is a value, bound parameters arrive via ``USING <expr> AS name`` —
    the surface a stored-procedure migration uses for runtime-composed
    queries.  The executed statement is ordinary SQL, so Catalyst
    plans it identically to the static form (scan + pushed filter +
    partial/final hash agg); only parsing moves to execution time.
    Money flows through the integer-cents canon."""
    orders = load_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("__ei_orders")
    return spark.sql("""
        EXECUTE IMMEDIATE
          'SELECT o_orderpriority,
                  COUNT(*) AS n,
                  CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                       AS BIGINT) AS cents
           FROM __ei_orders
           WHERE o_totalprice > :lo
           GROUP BY o_orderpriority'
          USING 150000 AS lo""")


@q("sql_identifier_params", """
SELECT o_orderstatus AS group_key,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(MAX(o_totalprice), 2) AS max_price
FROM orders
WHERE o_totalprice > 250000
GROUP BY o_orderstatus""")
def sql_identifier_params(spark, sf_dir):
    """Parameterized SQL (named ``:marker`` arguments to
    ``spark.sql(..., args=...)``) combined with the ``IDENTIFIER()``
    clause, which promotes a VALUE parameter to a column/table
    IDENTIFIER safely — the injection-proof way to template the same
    query over different group-by columns or tables (vs string
    concatenation).  Catalyst resolves IDENTIFIER at analysis time, so
    the plan is the ordinary static-column plan with the filter pushed
    to the scan."""
    orders = load_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("__idp_orders")
    return spark.sql(
        """
        SELECT IDENTIFIER(:gcol) AS group_key,
               COUNT(*) AS n,
               ROUND(MAX(IDENTIFIER(:vcol)), 2) AS max_price
        FROM IDENTIFIER(:tbl)
        WHERE IDENTIFIER(:vcol) > :lo
        GROUP BY IDENTIFIER(:gcol)
        """,
        args={"gcol": "o_orderstatus", "vcol": "o_totalprice",
              "tbl": "__idp_orders", "lo": 250000},
    )


@q("agg_group_by_all", """
SELECT o_orderstatus, o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
FROM orders
GROUP BY o_orderstatus, o_orderpriority""")
def agg_group_by_all(spark, sf_dir):
    """``GROUP BY ALL`` (group by every non-aggregate select item) —
    pure analyzer sugar that expands to the explicit column list
    before optimization, so the plan is byte-identical to the
    spelled-out GROUP BY; the entry pins that the dialect shortcut
    resolves the same grouping.  The oracle spells the columns out."""
    orders = load_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("__gba_orders")
    return spark.sql("""
        SELECT o_orderstatus, o_orderpriority,
               COUNT(*) AS n,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM __gba_orders
        GROUP BY ALL""")


@q("sample_tablesample_rows", """
SELECT CAST(75 AS BIGINT) AS n_contained,
       CAST(75 AS BIGINT) AS n_distinct,
       CAST(75 AS BIGINT) AS n_rows""")
def sample_tablesample_rows(spark, sf_dir):
    """``TABLESAMPLE (75 ROWS)`` — the SQL-standard sampling clause in
    its exact-row-count form — checked through the same invariant
    oracle as the unordered LIMIT (sample_limit): WHICH rows are
    sampled is nondeterministic, so the entry emits (a) exactly 75
    rows, (b) all contained in the base table via left-semi join, and
    (c) all distinct.  (The BERNOULLI percent form has a
    nondeterministic COUNT as well, which no invariant short of a
    tolerance band can pin — the ROWS form is the oracle-able one.)
    Invariant construction shared with sample_limit via
    ``_unordered_sample_invariants``."""
    from aws_etl_bank_spark.plans.registry_core import (
        _unordered_sample_invariants)

    o = load_table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("__ts_orders")
    return _unordered_sample_invariants(
        lambda: spark.sql(
            "SELECT * FROM __ts_orders TABLESAMPLE (75 ROWS)"), o)


@q("sql_session_variables", """
SELECT CAST(COUNT(*) AS BIGINT) AS n_above,
       ROUND(MIN(o_totalprice), 2) AS min_above
FROM orders
WHERE o_totalprice > (SELECT MAX(o_totalprice) / 2 FROM orders)""")
def sql_session_variables(spark, sf_dir):
    """SQL session variables (Spark 4 ``DECLARE VARIABLE`` / ``SET
    VAR`` outside any script): a variable holds a scalar computed by
    one query and parameterizes the next — the session-state surface
    scripts build on, usable from plain ``spark.sql`` calls.  The
    threshold is MAX/2, not AVG: max is order-of-accumulation
    independent and IEEE division by 2 is exact, so the variable's
    bits match the oracle's scalar subquery exactly (an AVG threshold
    could flip boundary rows between engines).  At plan time the
    variable is a literal — the filter still pushes to the scan."""
    orders = load_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("__var_orders")
    spark.sql("DECLARE OR REPLACE VARIABLE __r14_price_thresh DOUBLE "
              "DEFAULT 0.0")
    spark.sql("SET VAR __r14_price_thresh = "
              "(SELECT MAX(o_totalprice) / 2 FROM __var_orders)")
    return spark.sql("""
        SELECT COUNT(*) AS n_above,
               ROUND(MIN(o_totalprice), 2) AS min_above
        FROM __var_orders
        WHERE o_totalprice > __r14_price_thresh""")


@q("sql_pivot_clause", """
SELECT o_orderpriority,
       CASE WHEN COUNT(*) FILTER (WHERE o_orderstatus = 'F') = 0
            THEN NULL ELSE COUNT(*) FILTER (WHERE o_orderstatus = 'F')
       END AS f,
       CASE WHEN COUNT(*) FILTER (WHERE o_orderstatus = 'O') = 0
            THEN NULL ELSE COUNT(*) FILTER (WHERE o_orderstatus = 'O')
       END AS o,
       CASE WHEN COUNT(*) FILTER (WHERE o_orderstatus = 'P') = 0
            THEN NULL ELSE COUNT(*) FILTER (WHERE o_orderstatus = 'P')
       END AS p
FROM orders
GROUP BY o_orderpriority""")
def sql_pivot_clause(spark, sf_dir):
    """The SQL ``PIVOT`` clause (vs the DataFrame ``pivot()`` already
    pinned by pivot_event_counts): explicit IN-list of output columns,
    so Spark plans ONE aggregate with no distinct-values discovery
    job.  Fidelity detail the oracle encodes: a pivot cell whose group
    is EMPTY is NULL (the aggregate never ran), not COUNT's usual 0 —
    hence the CASE..FILTER oracle shape.  Explicit IN-lists are also
    the 100 TB posture: auto-discovered pivot values add a full
    distinct pass over the fact."""
    orders = load_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("__pv_orders")
    return spark.sql("""
        SELECT * FROM (
            SELECT o_orderpriority, o_orderstatus FROM __pv_orders
        )
        PIVOT (COUNT(*) FOR o_orderstatus IN ('F' AS f, 'O' AS o,
                                              'P' AS p))""")


@q("udtf_polymorphic_analyze", """
SELECT o_orderpriority,
       split_part(o_orderpriority, '-', 1) AS p0,
       split_part(o_orderpriority, '-', 2) AS p1,
       CAST(COUNT(*) AS BIGINT) AS n
FROM orders
GROUP BY o_orderpriority""")
def udtf_polymorphic_analyze(spark, sf_dir):
    """POLYMORPHIC Python UDTF (the Spark 4 ``analyze()`` static
    method): the output SCHEMA is computed at plan time from the
    call's constant arguments — here ``split_parts(col, 2)`` derives
    two string columns from the literal 2 — the table-function
    counterpart of generics (the earlier UDTF entries use static
    returnType).  ``AnalyzeArgument.isConstantExpression`` gates the
    schema-driving arg, so a non-literal width fails at analysis, not
    mid-job.  Execution is the ordinary Arrow-batched lateral join;
    the oracle is split_part (priorities are always two-part, so the
    missing-part NULL path never fires on this data)."""
    from pyspark.sql.functions import udtf
    from pyspark.sql.types import StringType, StructField, StructType
    from pyspark.sql.udtf import AnalyzeArgument, AnalyzeResult

    class SplitParts:
        @staticmethod
        def analyze(s: AnalyzeArgument,
                    n: AnalyzeArgument) -> AnalyzeResult:
            if not n.isConstantExpression:
                raise ValueError("split_parts: n must be a literal")
            return AnalyzeResult(schema=StructType(
                [StructField(f"p{i}", StringType())
                 for i in range(int(n.value))]))

        def eval(self, s, n):
            parts = (s or "").split("-")
            yield tuple(parts[i] if i < len(parts) else None
                        for i in range(n))

    spark.udtf.register("__r14_split_parts", udtf(SplitParts))
    orders = load_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("__udtfa_orders")
    return spark.sql("""
        SELECT o_orderpriority, sp.p0, sp.p1, COUNT(*) AS n
        FROM __udtfa_orders,
             LATERAL __r14_split_parts(o_orderpriority, 2) sp
        GROUP BY o_orderpriority, sp.p0, sp.p1""")


@q("sql_distribute_sort_by", """
SELECT o_orderstatus,
       o_orderkey,
       CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
FROM orders
WHERE o_totalprice > 300000""")
def sql_distribute_sort_by(spark, sf_dir):
    """``DISTRIBUTE BY`` + ``SORT BY`` (the Hive-dialect plan-shaping
    clauses): hash-partition by one key and sort WITHIN each partition
    by another — one Exchange plus a partition-local sort, NO global
    order and therefore no range-exchange/final-merge.  This is the
    write-preparation shape for clustered output at 100 TB (e.g.
    per-status files ordered by key for downstream merge joins), where
    a full ORDER BY would add a pointless global sort.  Content is
    partitioning-invariant, so the oracle is the plain projection;
    the partition-local plan shape is what the entry pins."""
    orders = load_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("__dsb_orders")
    return spark.sql("""
        SELECT o_orderstatus, o_orderkey,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        FROM __dsb_orders
        WHERE o_totalprice > 300000
        DISTRIBUTE BY o_orderstatus SORT BY o_orderkey""")


@q("sql_named_window_clause", """
SELECT o_orderkey,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                OVER (PARTITION BY o_orderstatus ORDER BY o_orderkey)
            AS BIGINT) AS run_cents,
       CAST(COUNT(*) OVER (PARTITION BY o_orderstatus
                           ORDER BY o_orderkey) AS BIGINT) AS run_n,
       CAST(rank() OVER (PARTITION BY o_orderstatus
                         ORDER BY o_orderkey) AS INT) AS rnk
FROM orders
WHERE o_totalprice > 400000""")
def sql_named_window_clause(spark, sf_dir):
    """The SQL ``WINDOW`` clause (named window definitions): three
    window functions share ONE spec by name, which guarantees — at the
    dialect level, not just by optimizer luck — that they run in a
    single Window operator over a single sort pass.  The oracle spells
    each OVER out; DuckDB collapses them the same way.  Money runs
    through integer cents so the running sum has one bit pattern in
    any engine (the frame order is total: o_orderkey is unique).
    Oracle typing (r14 driver red, fixed r15): DuckDB types a windowed
    ``SUM(BIGINT)`` as HUGEINT, so the oracle needs the outer
    ``CAST(... AS BIGINT)`` — same 128-bit bitwise-hash divergence
    class as the r11-r13 DECIMAL incident; the verify gate now rejects
    HUGEINT oracle columns outright.  At 100 TB the named-window habit
    is what keeps a 10-metric dashboard query at ONE shuffle+sort
    instead of ten."""
    orders = load_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("__nwc_orders")
    return spark.sql("""
        SELECT o_orderkey,
               SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                   OVER w AS run_cents,
               COUNT(*) OVER w AS run_n,
               CAST(rank() OVER w AS INT) AS rnk
        FROM __nwc_orders
        WHERE o_totalprice > 400000
        WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_orderkey)""")


@q("sql_limit_offset_page", """
SELECT o_orderkey, o_custkey
FROM orders
ORDER BY o_orderkey
LIMIT 20 OFFSET 40""")
def sql_limit_offset_page(spark, sf_dir):
    """``LIMIT .. OFFSET``-style pagination (Spark 3.4+ OFFSET
    clause): deterministic because the ORDER BY key is unique, so
    page 3 (rows 41-60) is the same set on any engine.  Spark plans
    this as a global top-(limit+offset) then skip — fine while
    limit+offset stays top-k-sized, which is why the docstring flags
    DEEP paging as the 100 TB anti-pattern (offset 10M sorts and
    ships 10M rows to skip them; keyset pagination — WHERE key >
    last_seen ORDER BY key LIMIT n — keeps every page a pushed range
    scan instead)."""
    orders = load_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("__lop_orders")
    return spark.sql("""
        SELECT o_orderkey, o_custkey
        FROM __lop_orders
        ORDER BY o_orderkey
        LIMIT 20 OFFSET 40""")


@q("sql_scripting_control_flow", """
SELECT CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS total_cents,
       CAST(COUNT(DISTINCT o_orderstatus) AS INT) AS n_groups,
       'multi' AS size_class,
       'caught' AS err_path,
       'positive' AS sign_class,
       CAST(COUNT(DISTINCT o_orderstatus) AS INT) AS repeat_steps
FROM orders""")
def sql_scripting_control_flow(spark, sf_dir):
    """SQL scripting CONTROL FLOW (completing the surface
    sql_scripting_while_loop opened): ``FOR row AS query DO`` cursor
    iteration over a grouped result, a ``CASE`` statement, ``IF``,
    labeled ``REPEAT .. UNTIL``, and a nested block with ``DECLARE
    EXIT HANDLER FOR SQLEXCEPTION`` catching a raise_error() —
    together the statement set a stored-procedure migration actually
    exercises.  Money accumulates as integer cents through the FOR
    cursor so iteration order can't diverge bitwise; the handler path
    is proven by the literal 'caught' (note: with ANSI off, 1/0 is
    NULL, not an error — the probe that discovered this is why the
    script raises explicitly).  Orders has exactly the three statuses
    F/O/P at every SF, so the CASE outcome is a pinned literal in the
    oracle."""
    orders = load_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("__cf_orders")
    return spark.sql("""
        BEGIN
          DECLARE total_cents BIGINT DEFAULT 0;
          DECLARE n_groups INT DEFAULT 0;
          DECLARE size_class STRING;
          DECLARE err_path STRING DEFAULT 'none';
          DECLARE sign_class STRING DEFAULT 'zero';
          DECLARE repeat_steps INT DEFAULT 0;
          FOR r AS SELECT o_orderstatus AS s,
                          SUM(CAST(ROUND(o_totalprice * 100)
                                   AS BIGINT)) AS cents
                   FROM __cf_orders GROUP BY o_orderstatus DO
            SET total_cents = total_cents + r.cents;
            SET n_groups = n_groups + 1;
          END FOR;
          CASE WHEN n_groups >= 3 THEN SET size_class = 'multi';
               WHEN n_groups = 2 THEN SET size_class = 'pair';
               ELSE SET size_class = 'single';
          END CASE;
          IF total_cents > 0 THEN
            SET sign_class = 'positive';
          END IF;
          BEGIN
            DECLARE EXIT HANDLER FOR SQLEXCEPTION
              SET err_path = 'caught';
            SELECT raise_error('deliberate scripting-handler probe');
          END;
          steps: REPEAT
            SET repeat_steps = repeat_steps + 1;
            UNTIL repeat_steps >= n_groups
          END REPEAT steps;
          SELECT total_cents, n_groups, size_class, err_path,
                 sign_class, repeat_steps;
        END""")


@q("scalar_crypto_roundtrip", """
SELECT DISTINCT o_orderpriority AS original,
       o_orderpriority AS roundtrip_gcm,
       o_orderpriority AS roundtrip_ecb,
       TRUE AS wrong_key_is_null
FROM orders""")
def scalar_crypto_roundtrip(spark, sf_dir):
    """Column-level encryption family (``aes_encrypt`` /
    ``aes_decrypt`` / ``try_aes_decrypt``) — the at-rest PII
    protection shape next to mask(): GCM mode (random IV per call, so
    ciphertext is non-deterministic but decrypt(encrypt(x)) is the
    identity — exactly what the oracle checks) and ECB mode
    (deterministic ciphertext, needed when the encrypted column must
    still serve as an equi-join/group key; its known
    pattern-leakage tradeoff is the documented price of joinability).
    ``try_aes_decrypt`` with the WRONG key yields NULL instead of
    failing the job — the quarantine-don't-crash posture for mixed-key
    archives.  DuckDB cannot evaluate AES, so the oracle pins the
    roundtrip identities and the NULL flag, not ciphertext bits."""
    o = load_table(spark, sf_dir, "orders")
    key = F.lit("0123456789abcdef")
    wrong = F.lit("fedcba9876543210")
    p = F.col("o_orderpriority").cast("binary")
    return (
        o.select("o_orderpriority").distinct()
        .select(
            F.col("o_orderpriority").alias("original"),
            F.aes_decrypt(F.aes_encrypt(p, key), key)
             .cast("string").alias("roundtrip_gcm"),
            F.aes_decrypt(F.aes_encrypt(p, key, F.lit("ECB")),
                          key, F.lit("ECB"))
             .cast("string").alias("roundtrip_ecb"),
            F.try_aes_decrypt(F.aes_encrypt(p, key), wrong)
             .isNull().alias("wrong_key_is_null"),
        )
    )


@q("scalar_collation_group", """
SELECT lower(CASE WHEN o_orderkey % 3 = 0 THEN lower(o_orderpriority)
                  WHEN o_orderkey % 3 = 1 THEN upper(o_orderpriority)
                  ELSE o_orderpriority END) AS priority_ci,
       CAST(COUNT(*) AS BIGINT) AS n
FROM orders
WHERE lower(o_orderpriority) <> '5-low'
GROUP BY 1""")
def scalar_collation_group(spark, sf_dir):
    """String COLLATIONS (the Spark 4 collation framework): a
    case-mixed token column (each row's priority re-cased by key mod
    3) is grouped AND filtered under ``UTF8_LCASE`` — grouping,
    equality, and hashing all follow the collation, so 'api'/'API'/
    'Api' land in one group with no lower() scattered through the
    query (the collation is declared once on the column; every
    downstream comparison inherits it — the governance win over
    ad-hoc case folding).  Two driver-canon guards baked in: the
    GROUP-KEY representative under a case-insensitive collation is
    nondeterministic (whichever variant a partition saw first), so
    the output key is ``lower(k)`` — deterministic because all
    representatives are case-variants; and the collated STRING dtype
    ('string collate UTF8_LCASE') is CAST back to plain string so the
    schema compare sees the same type as the oracle.  The RTRIM
    variants (UTF8_BINARY_RTRIM) and ICU collations (UNICODE_CI)
    share the machinery; UTF8_LCASE is the representative."""
    orders = load_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("__col_orders")
    return spark.sql("""
        SELECT CAST(lower(k) AS STRING) AS priority_ci,
               COUNT(*) AS n
        FROM (SELECT COLLATE(CASE WHEN o_orderkey % 3 = 0
                                  THEN lower(o_orderpriority)
                                  WHEN o_orderkey % 3 = 1
                                  THEN upper(o_orderpriority)
                                  ELSE o_orderpriority END,
                             'UTF8_LCASE') AS k
              FROM __col_orders)
        WHERE k <> COLLATE('5-LOW', 'UTF8_LCASE')
        GROUP BY k""")


@q("scale_bucket_pruned_read", """
SELECT o_orderkey, o_custkey,
       CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
FROM orders WHERE o_custkey = 7""")
def scale_bucket_pruned_read(spark, sf_dir):
    """BUCKET PRUNING on the read path (the sibling of the bucketed
    JOIN entries, which pin the shuffle-free join): an equality filter
    on the bucket column lets Spark compute the key's bucket from the
    same hash the writer used and scan ONLY that bucket's files —
    ``SelectedBucketsCount: 1 out of 8`` in the scan node
    (plan-pinned in tests/test_scale.py).  At 100 TB a point lookup on
    a bucketed fact reads 1/n_buckets of the table with no index
    structure at all; combined with the pushed filter it is the
    cheapest point-query layout Spark offers.  Results must equal the
    plain WHERE the oracle runs on the unbucketed parquet.

    Conf note: autoBucketedScan must be OFF (it only ever DISABLES
    bucketed reading) because its benefit rule considers shuffle
    removal, not pruning: with it on, a scan with no downstream
    join/agg is planned ``Bucketed: false`` and the 1-of-8-buckets
    prune is forfeited.  The conf is pinned off SESSION-WIDE in
    ``session.RUNTIME_CONFS`` (r15, ADVICE r14: this entry used to
    flip it mid-session and never restore, making other entries'
    physical plans execution-order-dependent).  ``get_spark`` and the
    driver's ``entry`` apply RUNTIME_CONFS once per session and no
    entry changes them, which ``scripts/verify_entry.py`` checks after
    its full pass — no per-entry conf code needed."""
    from aws_etl_bank_spark.functions.scale import (
        read_bucketed, reset_and_write_bucketed, sf_table_tag)

    t = f"bp_orders_{sf_table_tag(sf_dir)}"
    reset_and_write_bucketed(spark,
                             load_table(spark, sf_dir, "orders")
                             .select("o_orderkey", "o_custkey",
                                     "o_totalprice"),
                             t, "o_custkey", 8)
    return (read_bucketed(spark, t)
            .filter(F.col("o_custkey") == 7)
            .select("o_orderkey", "o_custkey",
                    F.round(F.col("o_totalprice") * 100)
                    .cast("bigint").alias("cents")))


@q("ops_pandas_api_roundtrip", """
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(MAX(o_totalprice), 2) AS max_price,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
FROM orders
GROUP BY o_orderstatus""")
def ops_pandas_api_roundtrip(spark, sf_dir):
    """pandas API on Spark (``DataFrame.pandas_api()`` →
    ``pyspark.pandas`` → ``.to_spark()``): a pandas-shaped
    groupby/agg/reset_index flow that compiles to the SAME Catalyst
    hash aggregate as the native DataFrame form — the migration
    surface for pandas-fluent users (the reference itself carries a
    ``pyspark.pandas`` import, SURVEY §8.7; this entry makes the
    surface deliberate instead of vestigial).  The money sum is
    computed Spark-side (integer cents) after ``to_spark()`` rather
    than in pandas, because pandas ``round`` is half-EVEN while
    SQL ROUND is half-away — the one semantic seam in the roundtrip,
    kept out of the oracle-compared path by construction."""
    import pyspark.pandas as ps  # noqa: F401  (the API under test)

    o = load_table(spark, sf_dir, "orders")
    psdf = o.pandas_api()
    agg = (psdf.groupby("o_orderstatus")
           .agg(n=("o_orderkey", "count"),
                max_price=("o_totalprice", "max"))
           .reset_index())
    sdf = agg.to_spark()
    cents = (o.groupBy("o_orderstatus")
             .agg(F.sum(F.round(F.col("o_totalprice") * 100)
                        .cast("bigint")).cast("bigint").alias("cents")))
    return (sdf.join(cents, "o_orderstatus")
            .select("o_orderstatus",
                    F.col("n").cast("bigint").alias("n"),
                    F.round("max_price", 2).alias("max_price"),
                    "cents"))


# ===========================================================================
# r15 surfaces: IGNORE NULLS windows, native batch session windows,
# Luhn validation, CLUSTER BY, seeded random generators
# ===========================================================================


@q("win_ignore_nulls_family", """
SELECT o_orderkey,
       lag(cents_n IGNORE NULLS)
           OVER (PARTITION BY o_orderstatus ORDER BY o_orderkey)
           AS prev_cents,
       last_value(cents_n IGNORE NULLS)
           OVER (PARTITION BY o_orderstatus ORDER BY o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS carry_cents,
       nth_value(cents_n, 2 IGNORE NULLS)
           OVER (PARTITION BY o_orderstatus ORDER BY o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING
                          AND UNBOUNDED FOLLOWING)
           AS second_cents
FROM (SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderkey % 7 = 0 THEN NULL
                  ELSE CAST(ROUND(o_totalprice * 100) AS BIGINT)
             END AS cents_n
      FROM orders)""")
def win_ignore_nulls_family(spark, sf_dir):
    """``IGNORE NULLS`` window modifiers (lag / last_value /
    nth_value): the gap-filling idiom — ``last_value(x) IGNORE NULLS``
    over a running frame is the standard "carry the last observation
    forward" without a self-join, and ``lag(...) IGNORE NULLS`` skips
    missing readings instead of returning them.  NULLs are planted
    deterministically (every 7th order key) so both engines see the
    same holes; all money is integer cents.  Dialect seam: DuckDB
    spells the modifier inside the call parens (``lag(x IGNORE
    NULLS)``), Spark after them (``lag(x) IGNORE NULLS``) — the
    oracle string uses DuckDB's inner form, the Spark SQL below the
    postfix form; semantics verified identical on planted probes.
    At 100 TB this family is one sorted window pass per partition —
    same cost class as any running sum; the alternative (as-of
    self-join per row) is a quadratic trap."""
    orders = load_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("__inf_orders")
    return spark.sql("""
        SELECT o_orderkey,
               lag(cents_n) IGNORE NULLS
                   OVER (PARTITION BY o_orderstatus ORDER BY o_orderkey)
                   AS prev_cents,
               last_value(cents_n) IGNORE NULLS
                   OVER (PARTITION BY o_orderstatus ORDER BY o_orderkey
                         ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS carry_cents,
               nth_value(cents_n, 2) IGNORE NULLS
                   OVER (PARTITION BY o_orderstatus ORDER BY o_orderkey
                         ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND UNBOUNDED FOLLOWING)
                   AS second_cents
        FROM (SELECT o_orderkey, o_orderstatus,
                     CASE WHEN o_orderkey % 7 = 0 THEN NULL
                          ELSE CAST(ROUND(o_totalprice * 100) AS BIGINT)
                     END AS cents_n
              FROM __inf_orders)""")


@q("agg_session_window_batch", """
WITH marked AS (
    SELECT user_id, ts,
           CASE WHEN lag(ts) OVER w IS NULL
                  OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                THEN 1 ELSE 0 END AS new_s
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), numbered AS (
    SELECT user_id, ts,
           SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS sid
    FROM marked
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM numbered
GROUP BY user_id, sid""")
def agg_session_window_batch(spark, sf_dir):
    """Catalyst-native BATCH ``session_window`` aggregation (the
    offline twin of streaming/sessionize.py, which pins the streaming
    side): ``groupBy(session_window(ts, gap), user)`` fuses the
    sort-merge-and-assign into one operator — one shuffle on the user
    key, sessions assigned partition-locally, no window-then-regroup
    double pass.  Boundary semantics pinned by probe: an event at
    EXACTLY prev_ts + gap still JOINS the session (merge while
    ``ts - prev <= gap``), so the oracle's new-session mark is the
    strict ``> gap``; session_end is last_event + gap on both sides.
    At 100 TB this is the right sessionizer: the hand-rolled
    lag/cumsum form (the oracle's shape) costs TWO window passes over
    the same sort, and a driver-side grouper doesn't exist.  Events
    ts granularity is microseconds, exact on both engines."""
    e = load_table(spark, sf_dir, "events")
    sw = F.session_window(F.col("ts"), "30 minutes")
    return (
        e.groupBy(sw, F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events")
    )


@q("scalar_luhn_validation", """
SELECT o_orderkey, acct,
       list_sum(list_transform(generate_series(1, 12), i ->
           CASE WHEN (13 - i) % 2 = 0
                THEN CASE WHEN CAST(substr(acct, CAST(i AS INT), 1) AS INT) * 2 > 9
                          THEN CAST(substr(acct, CAST(i AS INT), 1) AS INT) * 2 - 9
                          ELSE CAST(substr(acct, CAST(i AS INT), 1) AS INT) * 2 END
                ELSE CAST(substr(acct, CAST(i AS INT), 1) AS INT)
           END)) % 10 = 0 AS luhn_ok
FROM (SELECT o_orderkey, lpad(CAST(o_orderkey AS VARCHAR), 12, '0') AS acct
      FROM orders)""")
def scalar_luhn_validation(spark, sf_dir):
    """``luhn_check`` (Spark 3.5+): checksum validation for
    card/account numbers — the data-quality screen a banking ingest
    runs on every PAN-shaped column.  Account strings are derived
    from the order key (zero-padded to 12 digits) so both engines
    check identical inputs; the oracle re-implements the Luhn
    algorithm in portable SQL arithmetic (double every second digit
    from the right, fold >9 by subtracting 9, sum % 10 == 0 —
    verified digit-for-digit against Spark's builtin on planted
    valid/invalid probes).  Map-only, codegen'd, no shuffle: at
    100 TB this is a free pass over the scan."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select(
            "o_orderkey",
            F.lpad(F.col("o_orderkey").cast("string"), 12, "0")
            .alias("acct"))
        .select(
            "o_orderkey", "acct",
            F.expr("luhn_check(acct)").alias("luhn_ok"))
    )


@q("sql_cluster_by_ordered", """
SELECT o_orderstatus, o_orderkey,
       CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
FROM orders
WHERE o_totalprice > 300000""")
def sql_cluster_by_ordered(spark, sf_dir):
    """``CLUSTER BY`` — the dialect sugar for ``DISTRIBUTE BY k SORT
    BY k`` (the sibling entry sql_distribute_sort_by spells the two
    clauses out): one hash exchange plus a partition-LOCAL sort, no
    global order.  Content is partitioning-invariant so the oracle is
    the plain projection; what the entry pins is that the clause
    parses and the result set is exactly the filtered projection.  At
    100 TB CLUSTER BY is the cheap way to lay out a write so
    same-key rows land contiguously (dictionary/RLE-friendly parquet
    pages) without paying a global ORDER BY."""
    orders = load_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("__cb_orders")
    return spark.sql("""
        SELECT o_orderstatus, o_orderkey,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        FROM __cb_orders
        WHERE o_totalprice > 300000
        CLUSTER BY o_orderstatus, o_orderkey""")


@q("scalar_random_seeded_invariants", """
SELECT CAST(1000 AS BIGINT) AS n,
       true AS uniform_in_bounds,
       true AS uniform_covers_range,
       true AS randstr_shape_ok""")
def scalar_random_seeded_invariants(spark, sf_dir):
    """Seeded random generators (Spark 4.0 ``uniform``/``randstr``,
    SPARK-46990): WHICH value lands on which row depends on the
    partitioning (per-partition seeded streams, like ``rand(seed)``),
    so — exactly like the unordered-sample entries — the oracle
    checks INVARIANTS: row count, every uniform draw inside its
    closed bounds, the draws actually spreading over the range (>= 5
    of 10 possible values seen in 1000 draws — a degenerate
    constant-output implementation fails this), and every randstr
    being exactly 8 alphanumeric chars.  Single partition keeps the
    draw sequence stable for a given Spark version without making
    the invariants depend on it."""
    df = (spark.range(0, 1000, 1, 1)
          .select(F.expr("uniform(0, 9, 42)").alias("u"),
                  F.expr("randstr(8, 7)").alias("s")))
    return df.agg(
        F.count(F.lit(1)).alias("n"),
        F.bool_and(F.col("u").between(0, 9)).alias("uniform_in_bounds"),
        (F.count_distinct(F.col("u")) >= 5).alias("uniform_covers_range"),
        F.bool_and(F.col("s").rlike("^[A-Za-z0-9]{8}$"))
        .alias("randstr_shape_ok"))


@q("variant_explode_lateral", """
SELECT o_orderkey, CAST(u.pos AS INT) AS pos, u.val
FROM (SELECT o_orderkey,
             '[' || CAST(o_orderkey % 97 AS VARCHAR) || ',' ||
                    CAST(o_custkey % 89 AS VARCHAR) || ',' ||
                    CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) % 83
                         AS VARCHAR) || ']' AS js
      FROM orders
      WHERE o_orderkey % 50 = 0) t,
LATERAL (SELECT generate_subscripts(CAST(js AS JSON)::BIGINT[], 1) - 1
                    AS pos,
                unnest(CAST(js AS JSON)::BIGINT[]) AS val) u""")
def variant_explode_lateral(spark, sf_dir):
    """``variant_explode`` — the builtin generator TVF over the
    VARIANT type (Spark 4), correlated through ``LATERAL``: each row's
    JSON array parses to a variant ONCE and fans out to (pos, value)
    rows, the open-schema ingestion shape (scalar_variant_suite covers
    the scalar accessors; this is the explode side).  Array payloads
    are derived from order columns so both engines build identical
    JSON; values cast from variant to BIGINT on the Spark side and the
    oracle unnests DuckDB's ``JSON -> BIGINT[]`` with
    ``generate_subscripts`` ordinality.  Generator TVFs run inside the
    scan stage (no shuffle); at 100 TB variant_explode beats
    from_json(schema)+explode when the array element type varies,
    because the variant parse is schema-free and binary-encoded
    once."""
    o = load_table(spark, sf_dir, "orders")
    t = (o.filter(F.col("o_orderkey") % 50 == 0)
         .select(
             "o_orderkey",
             F.concat(
                 F.lit("["),
                 (F.col("o_orderkey") % 97).cast("string"), F.lit(","),
                 (F.col("o_custkey") % 89).cast("string"), F.lit(","),
                 (F.round(F.col("o_totalprice") * 100).cast("bigint")
                  % 83).cast("string"),
                 F.lit("]")).alias("js")))
    t.createOrReplaceTempView("__ve_orders")
    return spark.sql("""
        SELECT o_orderkey,
               CAST(v.pos AS INT) AS pos,
               CAST(v.value AS BIGINT) AS val
        FROM __ve_orders,
        LATERAL variant_explode(parse_json(js)) v""")


@q("ops_toarrow_roundtrip", """
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
FROM orders
GROUP BY o_orderstatus""")
def ops_toarrow_roundtrip(spark, sf_dir):
    """``DataFrame.toArrow()`` → ``pyarrow.Table`` →
    ``spark.createDataFrame(table)`` (both Spark 4 API surfaces): the
    zero-copy hand-off into the Arrow ecosystem (polars, duckdb,
    pandas-free tooling) and back.  BOUNDED by construction — the
    frame is aggregated to 3 rows BEFORE leaving the JVM, because
    toArrow() is a driver-side collect; the docstring rule for this
    surface at 100 TB is aggregate-first or don't call it.  The
    roundtrip pins the Arrow type mapping (string/int64) both
    directions; money stays integer cents."""
    import pyarrow as pa

    o = load_table(spark, sf_dir, "orders")
    agg = (o.groupBy("o_orderstatus")
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum(F.round(F.col("o_totalprice") * 100)
                      .cast("bigint")).cast("bigint").alias("cents")))
    tbl = agg.toArrow()
    # explicit raises, not asserts: PYTHONOPTIMIZE strips asserts and
    # these contract guards are load-bearing (ADVICE r15)
    if not isinstance(tbl, pa.Table):
        raise ValueError(f"toArrow returned {type(tbl).__name__}, not a pyarrow.Table")
    if tbl.num_rows > 10:
        raise ValueError(
            f"toArrow materialized {tbl.num_rows} rows driver-side; the"
            " roundtrip entry is bounded to the <=10-row aggregate")
    return spark.createDataFrame(tbl)


@q("agg_moments_family", """
WITH m AS (SELECT o_orderstatus, AVG(o_totalprice) AS mu,
                  stddev_pop(o_totalprice) AS sd
           FROM orders GROUP BY o_orderstatus)
SELECT o.o_orderstatus AS status,
       ROUND(stddev_pop(o.o_totalprice), 2) AS sd_pop,
       ROUND(var_pop(o.o_totalprice) / 1000000.0, 2) AS var_pop_m,
       ROUND(AVG(POW(o.o_totalprice - m.mu, 3)) / POW(m.sd, 3), 4)
           AS skew_pop,
       ROUND(AVG(POW(o.o_totalprice - m.mu, 4)) / POW(m.sd, 4) - 3.0, 4)
           AS kurt_pop,
       ROUND(covar_pop(o.o_totalprice, CAST(o.o_custkey AS DOUBLE))
             / 1000000.0, 4) AS cov_pop_m
FROM orders o JOIN m USING (o_orderstatus)
GROUP BY o.o_orderstatus, m.mu, m.sd""")
def agg_moments_family(spark, sf_dir):
    """Higher statistical moments as built-in aggregates: stddev_pop /
    var_pop / skewness / kurtosis / covar_pop — the profiling
    aggregates a data-quality pass runs per column.  Definition seam
    pinned by probe: Spark's skewness/kurtosis are POPULATION (excess)
    moments while DuckDB's builtins are sample-corrected (g1/g2), so
    the oracle recomputes the population definitions through a
    two-pass CTE (mean/sd join, then central-moment averages) rather
    than calling DuckDB's skewness()/kurtosis().  All five agree to
    the rounded digits on every group (verified both engines).  One
    partial+final hash aggregate per pass at 100 TB; the moments
    family shares the scan with any other profiling aggregate."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(F.col("o_orderstatus").alias("status"))
        .agg(
            F.round(F.stddev_pop("o_totalprice"), 2).alias("sd_pop"),
            F.round(F.var_pop("o_totalprice") / 1e6, 2).alias("var_pop_m"),
            F.round(F.skewness("o_totalprice"), 4).alias("skew_pop"),
            F.round(F.kurtosis("o_totalprice"), 4).alias("kurt_pop"),
            F.round(F.covar_pop("o_totalprice",
                                F.col("o_custkey").cast("double")) / 1e6, 4)
            .alias("cov_pop_m"))
    )


@q("sketch_kll_quantile_band", """
SELECT CAST(COUNT(*) AS BIGINT) AS n,
       true AS median_in_band,
       true AS p90_in_band
FROM orders""")
def sketch_kll_quantile_band(spark, sf_dir):
    """The built-in Apache DataSketches KLL quantile aggregates
    (kll_sketch_agg_bigint / get_n / get_quantile, Spark 4.1):
    mergeable constant-size quantile state — the 100 TB quantile path
    when approx_percentile's accuracy knob is not enough and the
    sketch itself must be persisted/merged across jobs.  The estimate
    is PARTITIONING-DEPENDENT (probed: two partition counts give
    different medians — KLL compaction is merge-order sensitive), so
    exact values are not hash-comparable; the oracle checks the KLL
    CONTRACT instead, banding each estimate between the EXACT rank-
    neighborhood quantiles (p45..p55 for the median, p85..p95 for
    p90 — vastly wider than the sketch's ~1.3% rank error) computed
    by Spark's exact percentile() in the same query, plus the exact
    item count get_n.  Same pattern as agg_approx_percentile_band."""
    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    base = o.select(cents.alias("cents")).agg(
        F.expr("kll_sketch_agg_bigint(cents)").alias("sk"),
        F.expr("percentile(cents, array(0.45, 0.55, 0.85, 0.95))")
        .alias("bands"),
        F.count(F.lit(1)).alias("n_exact"))
    return base.select(
        F.expr("kll_sketch_get_n_bigint(sk)").cast("bigint").alias("n"),
        F.expr("kll_sketch_get_quantile_bigint(sk, 0.5)")
        .between(F.col("bands")[0], F.col("bands")[1])
        .alias("median_in_band"),
        F.expr("kll_sketch_get_quantile_bigint(sk, 0.9)")
        .between(F.col("bands")[2], F.col("bands")[3])
        .alias("p90_in_band"))
