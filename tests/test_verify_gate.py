"""Self-tests for the local driver-replica gate (scripts/verify_entry.py).

The gate only protects the round if its own normalization matches the
driver's bitwise value hash.  Round 5 shipped a red driver row
(``ts_trend_slope``) because ``norm_value`` collapsed IEEE ``-0.0`` and
``+0.0`` while the driver distinguishes them — these tests pin the
sign-aware behavior so that class of local-green/driver-red can't recur.
"""

from __future__ import annotations

import math
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from scripts.verify_entry import norm_value  # noqa: E402


def test_negative_zero_is_distinct_from_positive_zero():
    assert norm_value(-0.0) != norm_value(0.0)
    assert norm_value(-0.0) == "-0.0"
    assert norm_value(0.0) == 0.0


def test_tiny_negative_rounds_to_signed_zero():
    # round(-1e-9, 6) == -0.0 in Python: the sign survives rounding, so
    # the gate must surface it, exactly as the driver's hash would.
    v = -1e-9
    assert round(v, 6) == 0.0 and math.copysign(1.0, round(v, 6)) < 0
    assert norm_value(v) == "-0.0"


def test_ordinary_floats_still_round():
    assert norm_value(1.23456789) == 1.234568
    assert norm_value(float("nan")) == "NaN"
    assert norm_value(-1.5) == -1.5


def test_bench_stdout_line_fits_driver_capture():
    """r5's BENCH artifact was clipped (parsed=null): the stdout JSON
    outgrew the driver's ~2000-char tail capture.  The compact line —
    medians only, no spreads/samples — must stay under the limit even
    with worst-case 4-digit-second timings; the full detail goes to
    bench_out/BENCH_local.json instead."""
    import json

    import bench

    line = json.dumps({
        "metric": "headline_total_runtime",
        "value": 9999.999,
        "unit": "sec",
        # compact line carries 2-decimal medians (bench.py rounds);
        # worst case is 4-digit seconds
        "queries": {n: 9999.99 for n in bench.HEADLINE},
        # the second frozen subset (r16) does NOT ride the compact line:
        # worst case here is 1893/1900 chars with set 1 alone — set 2's
        # series lives in bench_out/BENCH_local.json (committed per
        # round), keeping the r5 clipping class impossible
        "runs": 3,
        "sf": 0.1,
        # per-pass "samples" moved to BENCH_local.json in r13 when the
        # 54-query compact line approached the capture limit
        "probes": [9999.999] * 4,
        "calibration_sec": 9999.999,
    }, separators=(",", ":"))
    assert len(line) < 1900, len(line)


def test_nested_output_columns_are_flagged():
    """r9 shipped two driver-red rows (text_vocab_encode,
    scd_snapshot_diff) because the local gate tolerated raw array
    output columns the driver's pandas canon cannot hash — the gate now
    rejects every array/struct/map-typed output of an oracle-backed
    entry (serialize with array_join instead)."""
    from scripts.verify_entry import nested_output_cols

    dtypes = [("doc_id", "string"), ("ids", "array<int>"),
              ("rec", "struct<a:bigint,b:string>"),
              ("m", "map<string,int>"), ("n_tokens", "bigint")]
    assert nested_output_cols(dtypes) == ["ids", "rec", "m"]
    assert nested_output_cols([("a", "bigint"), ("b", "string")]) == []


def test_bench_headline_queries_all_registered():
    """A typo'd HEADLINE name would crash the driver's bench run — pin
    that every benched query resolves in the registry."""
    import bench
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    missing = [n for n in bench.HEADLINE if n not in qs]
    assert missing == [], missing
    assert len(bench.HEADLINE) == len(set(bench.HEADLINE))
    # the second frozen subset (r16) gets the same protection, and the
    # two sets must stay disjoint — a shared name would double-run and
    # make "alongside, never mixed" ambiguous in the artifact
    missing2 = [n for n in bench.HEADLINE2 if n not in qs]
    assert missing2 == [], missing2
    assert len(bench.HEADLINE2) == len(set(bench.HEADLINE2))
    assert not set(bench.HEADLINE) & set(bench.HEADLINE2)


def test_priority_slate_all_registered():
    """Same protection for the driver rotation: every _PRIORITY name
    must resolve, and the first 50 (the driver's evaluation budget)
    must be unique."""
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    missing = [n for n in entrymod._PRIORITY if n not in qs]
    assert missing == [], missing
    first50 = entrymod._PRIORITY[:50]
    assert len(first50) == len(set(first50)) == 50


def test_bench_stdout_compact_line_is_last(tmp_path):
    """End-to-end capture-contract pin (r11 verdict task 4): BENCH_r11's
    captured tail contained a DAGScheduler stack trace from a streaming
    `query.stop()` ahead of the JSON line — log noise sharing the
    driver's ~2000-char stdout+stderr tail budget.  Run the real bench
    entrypoint on a small query subset that INCLUDES a streaming stop
    (the trace source) and pin that the compact JSON line is the LAST
    line of stdout and that stderr carries no stack frames."""
    import json
    import subprocess

    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_SF_DIR": "/root/testdata/sf0.001",
        "SPARK_GRAFT_BENCH_RUNS": "1",
        "SPARK_GRAFT_BENCH_QUERIES":
            "join_multiway_sql,stream_window_counts,stream_cdc_scd2",
    })
    proc = subprocess.run(
        [os.sys.executable, os.path.join(REPO, "bench.py")],
        capture_output=True, text=True, timeout=900, env=env,
        cwd=REPO)
    assert proc.returncode == 0, proc.stderr[-2000:]
    out_lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    assert out_lines, "bench printed nothing"
    last = out_lines[-1]
    parsed = json.loads(last)          # the compact line parses alone
    assert parsed["metric"] == "headline_total_runtime"
    assert set(parsed["queries"]) == {
        "join_multiway_sql", "stream_window_counts", "stream_cdc_scd2"}
    # nothing else on stdout at all: the driver tail is stdout+stderr
    # merged, so any extra stdout line eats the capture budget
    assert out_lines == [last], out_lines[:-1]
    # no JVM stack frames on stderr either ("\tat org.apache..." is the
    # r11 trace signature); log level OFF must hold through shutdown
    frames = [ln for ln in proc.stderr.splitlines()
              if ln.startswith("\tat ") or "DAGScheduler" in ln]
    assert frames == [], frames[:5]


def test_duplicate_registry_name_raises():
    """r13: a reused @q name silently shadowed an existing entry (and
    its driver evidence); the decorator now refuses collisions."""
    import pytest

    from aws_etl_bank_spark.plans.registry import load_registry, q

    existing = next(iter(load_registry()))
    with pytest.raises(ValueError, match="duplicate registry entry"):
        @q(existing)
        def shadow(spark, sf_dir):  # pragma: no cover
            return None


def test_wide_oracle_cols_flags_128bit_types():
    """r14 shipped its one driver-red row because a windowed
    SUM(BIGINT) oracle column is HUGEINT in DuckDB (sql_named_window_
    clause) and the r13 sweep grepped DECIMAL only.  Pin both facts:
    DuckDB really does widen a windowed integer sum to HUGEINT, and
    the gate's classifier rejects the whole 128-bit class."""
    import duckdb

    from scripts.verify_entry import wide_oracle_cols

    con = duckdb.connect()
    rel = con.sql(
        "SELECT SUM(x) OVER (ORDER BY x) AS uncast,"
        "       CAST(SUM(x) OVER (ORDER BY x) AS BIGINT) AS cast_down,"
        "       CAST(1.5 AS DECIMAL(10,2)) AS dec_col,"
        # NOTE: `* 1.0` would NOT be ok — DuckDB types a 1.0 literal
        # DECIMAL and int*decimal stays decimal; only an explicit
        # CAST produces DOUBLE
        "       CAST(SUM(x) OVER (ORDER BY x) AS DOUBLE) AS dbl_ok "
        "FROM (SELECT CAST(1 AS BIGINT) AS x)")
    codes = [str(t) for t in rel.types]
    assert codes[0] == "HUGEINT"  # the r14 incident typing, pinned
    flagged = wide_oracle_cols(rel.columns, codes)
    assert ("uncast", "HUGEINT") in flagged
    assert any(c == "dec_col" for c, _ in flagged)
    assert all(c not in ("cast_down", "dbl_ok") for c, _ in flagged)


def test_registry_oracles_bind_no_128bit_columns():
    """Static full-registry sweep (r14 verdict task 2): DESCRIBE every
    oracle_sql() relation against DuckDB views of the smallest testdata
    and assert no output column binds to a 128-bit type.  Binding is
    static (no execution), so this covers all ~380 oracles in seconds.
    Oracles referencing scratch artifacts the Spark side writes first
    may fail to BIND here — those are exercised by the full verify run
    instead — but a successful bind with a HUGEINT/DECIMAL column is an
    outright failure."""
    import duckdb

    import __spark_entry__ as entrymod
    from scripts.verify_entry import TABLES, wide_oracle_cols

    sf_dir = "/root/testdata/sf0.001"
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    bad, bound = {}, 0
    for name, sql in entrymod.oracle_sql().items():
        try:
            rel = con.sql(sql)
            codes = [str(t) for t in rel.types]
        except Exception:
            continue  # scratch-dependent oracle; full verify covers it
        bound += 1
        wide = wide_oracle_cols(rel.columns, codes)
        if wide:
            bad[name] = wide
    assert bad == {}, f"128-bit oracle columns: {bad}"
    assert bound > 300  # the sweep must actually cover the registry


def test_priority_slate_is_oracle_backed():
    """r14 burned a driver rotation slot on a rows-only entry
    (dedup_semantic_pairs_full -> err:"no_oracle").  The 50-slot
    window is attestation budget: every name in it must have an
    oracle (verdict r14 task 3)."""
    import __spark_entry__ as entrymod

    oracles = entrymod.oracle_sql()
    rows_only = [n for n in entrymod._PRIORITY[:50] if n not in oracles]
    assert rows_only == [], (
        f"rows-only entries waste driver slots: {rows_only}")


def _duck_sf0_01():
    import duckdb

    from scripts.verify_entry import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            "CREATE VIEW {} AS SELECT * FROM "
            "'/root/testdata/sf0.01/{}.parquet'".format(t, t))
    return con


def test_fuzzy_ed1_blocked_oracle_equals_brute_force():
    """r15 verdict task 4 anchor: dedup_fuzzy_ed1_pairs' oracle now
    generates candidates with deletion-variant blocking instead of the
    O(n²) levenshtein cross join that made it the standing sf1 audit
    exclusion.  Symmetric-delete blocking is provably lossless at
    ed ≤ 1, but the ground truth must stay ANCHORED to the quadratic
    definition — so recompute the shipped oracle's bucketed checksum
    from a brute-force pair set inside the same DuckDB session and
    assert bitwise-equal results at the driver SF."""
    import aws_etl_bank_spark.plans.registry as reg

    con = _duck_sf0_01()
    shipped = con.sql(
        "SELECT * FROM ({}) ORDER BY bucket".format(
            reg.load_registry()["dedup_fuzzy_ed1_pairs"].oracle)).fetchall()
    brute = con.sql("""
        WITH pairs AS (
          SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
                 levenshtein(a.c_name, b.c_name) AS dist
          FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
          WHERE levenshtein(a.c_name, b.c_name) <= 1)
        SELECT id_a % 997 AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(SUM(CASE WHEN dist = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_exact,
               CAST(SUM(dist) AS BIGINT) AS sum_dist,
               CAST(SUM(id_a) AS BIGINT) AS sum_ida,
               CAST(SUM(id_b) AS BIGINT) AS sum_idb,
               CAST(SUM((id_a * 31 + id_b) % 1000003) AS BIGINT) AS chk
        FROM pairs GROUP BY bucket ORDER BY bucket""").fetchall()
    assert len(shipped) > 0
    assert shipped == brute


def test_fuzzy_entity_oracle_converged_and_matches_recursive():
    """The companion anchor for dedup_fuzzy_entity_ids' unrolled
    pointer-doubling closure (10 MATERIALIZED min-label rounds):

    1. convergence — re-running the shipped oracle with the final
       SELECT pointed at round 9 instead of round 10 must give the
       identical labelling (a fixpoint reached with a round to spare;
       if the data ever needs >9 rounds this pin fails loudly before
       the driver sees a silently-wrong oracle);
    2. ground truth — the labelling equals the old recursive min-label
       closure over the brute-force O(n²) levenshtein edge set, which
       is still tractable at the driver SF (500 nodes)."""
    import aws_etl_bank_spark.plans.registry as reg

    oracle = reg.load_registry()["dedup_fuzzy_entity_ids"].oracle
    assert oracle.rstrip().endswith("FROM l10")
    con = _duck_sf0_01()
    shipped = con.sql(
        "SELECT * FROM ({}) ORDER BY id".format(oracle)).fetchall()
    l9 = con.sql("SELECT * FROM ({}) ORDER BY id".format(
        oracle.replace("FROM l10", "FROM l9"))).fetchall()
    assert shipped == l9, "min-label closure not converged by round 9"
    recursive = con.sql("""
        WITH RECURSIVE nodes AS (
          SELECT c_custkey AS id, c_name AS name FROM customer
          WHERE c_custkey % 3 = 0),
        edges AS (
          SELECT a.id AS id_a, b.id AS id_b
          FROM nodes a JOIN nodes b ON levenshtein(a.name, b.name) <= 1),
        reach AS (
          SELECT id, id AS lbl FROM nodes
          UNION
          SELECT e.id_b, r.lbl FROM reach r JOIN edges e ON e.id_a = r.id)
        SELECT CAST(id AS BIGINT) AS id, CAST(MIN(lbl) AS BIGINT) AS component
        FROM reach GROUP BY id ORDER BY id""").fetchall()
    assert len(shipped) == 500
    assert shipped == recursive


#: sha256 of the 395 registry names joined by newlines, in REGISTRY
#: order — the order the driver rotation window and COVERAGE.md index
REGISTRY_ORDER_SHA256 = (
    "26f98423b74c48cc8d127082ebe5a488d4bf18dbe47f7813407c2ce88029e437")


def _registry_order_digest(names) -> str:
    import hashlib

    return hashlib.sha256("\n".join(names).encode()).hexdigest()


def test_registry_order_is_pinned_whatever_imports_first():
    """REGISTRY order is computed from registry.PARTS, not from import
    order: it must equal the pinned order in this process and in a
    fresh interpreter that imports the LAST part module directly
    before anything else (which would register that part's entries
    first)."""
    import os
    import subprocess

    from aws_etl_bank_spark.plans.registry import load_registry

    names = list(load_registry())
    assert len(names) == 395
    assert _registry_order_digest(names) == REGISTRY_ORDER_SHA256

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-c",
         "import aws_etl_bank_spark.plans.registry_llm_scale; "
         "from aws_etl_bank_spark.plans.registry import load_registry; "
         "print('\\n'.join(load_registry()))"],
        capture_output=True, text=True, timeout=120, cwd=repo)
    assert proc.returncode == 0, proc.stderr[-500:]
    fresh = proc.stdout.splitlines()
    assert _registry_order_digest(fresh) == REGISTRY_ORDER_SHA256


def test_fuzzy_entity_oracle_converged_at_audit_scale():
    """r16 review finding: the round-9 ≡ round-10 convergence pin above
    only runs at the driver SF; the audit runs the oracle at sf1, where
    the name graph is 100× denser and needs one more doubling round
    (8 vs 7 — measured).  Re-check the fixpoint against the CURRENT
    .scratch/sf1 fixture whenever it exists (it is regenerated every
    round), in ONE query so the shared CTE chain executes once: count
    of nodes whose round-9 and round-10 labels differ must be 0."""
    import duckdb
    import pytest

    sf1 = os.path.join(REPO, ".scratch", "sf1", "customer.parquet")
    if not os.path.exists(sf1):
        pytest.skip("no .scratch/sf1 fixture on this box")
    import aws_etl_bank_spark.plans.registry as reg

    oracle = reg.load_registry()["dedup_fuzzy_entity_ids"].oracle
    assert oracle.rstrip().endswith("FROM l10")
    body = oracle[:oracle.rindex("SELECT")]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW customer AS SELECT * FROM '{sf1}'")
    n_changed = con.sql(
        body + "SELECT count(*) FROM l9 JOIN l10 USING (id) "
               "WHERE l9.lb <> l10.lb").fetchone()[0]
    assert n_changed == 0, (
        f"{n_changed} labels still moving between rounds 9 and 10 at "
        "sf1 — the unrolled closure needs more rounds for this fixture")
