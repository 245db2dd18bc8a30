"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry at the given sf_dir, compares against its
``oracle_sql()`` in DuckDB: row count, column-name set, column TYPES
(normalized vocabulary, tz-awareness preserved — Spark TIMESTAMP/
TIMESTAMP_NTZ both render naive and match DuckDB TIMESTAMP, but DuckDB
TIMESTAMPTZ only matches a tz-aware result), and an order-insensitive
value comparison (rows sorted, columns sorted by name, values normalized
WITHOUT discarding tzinfo).  Exit code 1 if anything mismatches.

History: the round-3 gate stripped ``tzinfo`` and compared column names
only, which passed locally while the driver (type-aware hash) failed
``ts_bucket_rollup``/``ts_gapfill_hourly`` — this version reproduces
those driver failures on the pre-fix oracles.

Usage: python scripts/verify_entry.py [sf_dir] [name_filter ...]
"""

from __future__ import annotations

import math
import os
import sys
import datetime as dt

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entrymod  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm_value(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return bool(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        r = round(v, 6)
        # The driver's value hash is bitwise, so IEEE -0.0 and +0.0 are
        # DIFFERENT values to it (the r5 ts_trend_slope failure shipped
        # because round() here collapsed them).  Keep the sign bit in the
        # normalized form so a -0.0-vs-+0.0 skew fails locally too.
        if r == 0.0 and math.copysign(1.0, r) < 0:
            return "-0.0"
        return r
    if isinstance(v, dt.datetime):
        # tz-awareness is part of the value: aware normalizes to UTC and
        # keeps its offset in the rendering; naive stays naive.  A naive
        # Spark result vs a TIMESTAMPTZ oracle must NOT compare equal.
        if v.tzinfo is not None:
            return v.astimezone(dt.timezone.utc).isoformat()
        return v.isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(norm_value(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, norm_value(x)) for k, x in v.items()))
    return v


#: Spark simple-dtype string → normalized type token.  TIMESTAMP (session
#: tz) and TIMESTAMP_NTZ both surface as naive datetimes in a collected
#: result, so both normalize to "ts_naive" — mirroring how the driver's
#: type-aware hash sees them.
_SPARK_TYPES = {
    "tinyint": "int8", "smallint": "int16", "int": "int32",
    "bigint": "int64", "float": "float32", "double": "float64",
    "string": "str", "boolean": "bool", "date": "date",
    "timestamp": "ts_naive", "timestamp_ntz": "ts_naive",
    "binary": "bytes",
}

#: DuckDB description type-code string → normalized type token.
_DUCK_TYPES = {
    "TINYINT": "int8", "SMALLINT": "int16", "INTEGER": "int32",
    "BIGINT": "int64", "HUGEINT": "int64", "FLOAT": "float32",
    "DOUBLE": "float64", "VARCHAR": "str", "BOOLEAN": "bool",
    "DATE": "date",
    "TIMESTAMP": "ts_naive", "TIMESTAMP_NS": "ts_naive",
    "TIMESTAMP_MS": "ts_naive", "TIMESTAMP_S": "ts_naive",
    "TIMESTAMP WITH TIME ZONE": "ts_tz",
    "BLOB": "bytes",
}


def _norm_spark_type(dtype: str) -> str:
    d = dtype.lower()
    if d.startswith("decimal"):
        return "decimal"
    if d.startswith("array"):
        return "list"
    if d.startswith("struct"):
        return "struct"
    if d.startswith("map"):
        return "map"
    return _SPARK_TYPES.get(d, d)


def _norm_duck_type(code) -> str:
    c = str(code).upper()
    if c.startswith("DECIMAL"):
        return "decimal"
    if c.endswith("[]") or c.startswith("LIST"):
        return "list"
    if c.startswith("STRUCT"):
        return "struct"
    if c.startswith("MAP"):
        return "map"
    return _DUCK_TYPES.get(c, c.lower())


#: DuckDB type codes the driver's bitwise hash canonicalizes
#: DIFFERENTLY from the local python-int normalization: 128-bit
#: integers and fixed-point decimals.  r11-r13 burned on DECIMAL; r14
#: burned on HUGEINT (a windowed SUM(BIGINT) with no outer CAST — the
#: round's only driver-red row, sql_named_window_clause).  The r13
#: sweep grepped DECIMAL only and missed it, so the gate now rejects
#: the whole class: an oracle-compared output column must be cast down
#: to BIGINT/DOUBLE before it leaves the oracle SQL.
def wide_oracle_cols(ocols, otypecodes) -> list[tuple[str, str]]:
    bad = []
    for c, t in zip(ocols, otypecodes):
        u = str(t).upper()
        if (u.startswith("DECIMAL") or u in ("HUGEINT", "UHUGEINT")
                or "INT128" in u):
            bad.append((c, u))
    return bad


def nested_output_cols(dtypes) -> list[str]:
    """Columns the driver's pandas canon cannot hash (raw array/struct/
    map) — any oracle-backed entry emitting one is REJECTED (r9 verdict
    task 1: text_vocab_encode / scd_snapshot_diff shipped red because
    this gate tolerated what the driver crashes on)."""
    return [c for c, t in dtypes
            if t.startswith(("array", "struct", "map"))]


def rows_to_multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    normed = [tuple(norm_value(r[i]) for i in order) for r in rows]
    return sorted(normed, key=lambda t: tuple(str(x) for x in t))


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    name_filter = sys.argv[2:]

    from aws_etl_bank_spark.session import RUNTIME_CONFS, get_spark

    spark = get_spark("verify_entry")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures, passed, rows_only = [], 0, 0
    record: dict[str, dict] = {}
    exclude = [e for e in
               os.environ.get("SPARK_GRAFT_VERIFY_EXCLUDE", "").split(",")
               if e]
    for name, fn in qs.items():
        if name_filter and not any(f in name for f in name_filter):
            continue
        if any(e in name for e in exclude):
            record[name] = {"status": "excluded"}
            print(f"skip  {name} (excluded)")
            continue
        # Drop the previous entry's persisted intermediates (a handful
        # of entries persist() bounded aggs consumed twice — e.g.
        # text_word_pmi, ts_active_users_7d); in a single-session
        # 284-entry sweep those caches would otherwise accumulate for
        # the life of the session (r8 advice).
        spark.catalog.clearCache()
        try:
            df = fn(spark, sf_dir)
            cols = df.columns
            rows = [tuple(r) for r in df.collect()]
        except Exception as e:
            failures.append((name, f"SPARK ERROR: {type(e).__name__}: {e}"))
            record[name] = {"status": "fail", "detail": f"spark error: {e}"}
            print(f"FAIL  {name}: spark error {e}")
            continue
        # Driver-canon parity (r9 verdict task 1): the driver's pandas
        # _canon crashes with "unhashable type: numpy.ndarray" on any
        # oracle-compared output that keeps a raw array/struct/map
        # column (text_vocab_encode / scd_snapshot_diff shipped red in
        # r9 because THIS gate tolerated what the driver cannot hash).
        # House convention: serialize with array_join/array_to_string
        # (agg_payment_types).  Hard-fail here so the class can't ship.
        nested = nested_output_cols(df.dtypes)
        if nested and name in oracles:
            failures.append((name, f"nested output cols {nested}"))
            record[name] = {"status": "fail",
                            "detail": f"nested output cols {nested} — "
                                      "driver canon cannot hash arrays; "
                                      "serialize with array_join"}
            print(f"FAIL  {name}: nested output columns {nested} — the "
                  "driver's pandas canon crashes on raw arrays; serialize "
                  "with array_join (house convention)")
            continue
        if name not in oracles:
            rows_only += 1
            record[name] = {"status": "rows_only", "rows": len(rows)}
            print(f"rows  {name}: {len(rows)} rows (no oracle)")
            continue
        try:
            # relation API, not DB-API execute(): description type codes
            # are coarse ('NUMBER', 'datetime') and erase tz-awareness;
            # rel.types carries the real DuckDB type names
            rel = con.sql(oracles[name])
            ocols = list(rel.columns)
            otypecodes = [str(t) for t in rel.types]
            orows = rel.fetchall()
        except Exception as e:
            failures.append((name, f"ORACLE ERROR: {e}"))
            record[name] = {"status": "fail", "detail": f"oracle error: {e}"}
            print(f"FAIL  {name}: oracle error {e}")
            continue
        wide = wide_oracle_cols(ocols, otypecodes)
        if wide:
            failures.append((name, f"128-bit oracle cols {wide}"))
            record[name] = {"status": "fail",
                            "detail": f"oracle emits 128-bit columns {wide} "
                                      "— driver bitwise hash diverges on "
                                      "HUGEINT/DECIMAL; CAST down to "
                                      "BIGINT/DOUBLE in the oracle SQL"}
            print(f"FAIL  {name}: oracle emits 128-bit column(s) {wide} — "
                  "the driver's bitwise hash diverges on HUGEINT/DECIMAL "
                  "(r11-r14 incident class); add an outer CAST")
            continue
        if sorted(cols) != sorted(ocols):
            failures.append((name, f"columns {sorted(cols)} vs {sorted(ocols)}"))
            record[name] = {"status": "fail",
                            "detail": f"columns {sorted(cols)} vs {sorted(ocols)}"}
            print(f"FAIL  {name}: column mismatch {sorted(cols)} vs {sorted(ocols)}")
            continue
        stypes = {c: _norm_spark_type(t) for c, t in df.dtypes}
        otypes = {c: _norm_duck_type(t) for c, t in zip(ocols, otypecodes)}
        badtypes = {c: (stypes[c], otypes[c]) for c in stypes
                    if stypes[c] != otypes[c]}
        if badtypes:
            failures.append((name, f"dtypes {badtypes}"))
            record[name] = {"status": "fail", "detail": f"dtypes {badtypes}"}
            print(f"FAIL  {name}: dtype mismatch (spark, oracle) = {badtypes}")
            continue
        if len(rows) != len(orows):
            failures.append((name, f"rowcount {len(rows)} vs {len(orows)}"))
            record[name] = {"status": "fail",
                            "detail": f"rowcount {len(rows)} vs {len(orows)}"}
            print(f"FAIL  {name}: rowcount {len(rows)} vs {len(orows)}")
            continue
        a = rows_to_multiset(cols, rows)
        b = rows_to_multiset(ocols, orows)
        if a != b:
            diff = [(x, y) for x, y in zip(a, b) if x != y][:3]
            failures.append((name, f"values differ, e.g. {diff}"))
            record[name] = {"status": "fail", "detail": f"values differ: {diff!r:.300}"}
            print(f"FAIL  {name}: values differ, e.g. {diff}")
            continue
        passed += 1
        record[name] = {"status": "ok", "rows": len(rows)}
        print(f"ok    {name}: {len(rows)} rows")

    # The session's runtime confs are applied once, where it is built;
    # no entry may leave one changed for the entries after it.
    drifted = {k: spark.conf.get(k) for k, v in RUNTIME_CONFS.items()
               if spark.conf.get(k) != v}
    if drifted:
        failures.append(("runtime_confs", f"changed by the pass: {drifted}"))
        print(f"FAIL  runtime confs changed by the pass: {drifted}")
    else:
        print(f"ok    runtime confs: all {len(RUNTIME_CONFS)} unchanged")

    total = len([n for n in qs if not name_filter or any(f in n for f in name_filter)])
    n_excluded = sum(1 for v in record.values() if v.get("status") == "excluded")
    print(f"\n{passed} passed, {rows_only} rows-only, {len(failures)} failed, "
          f"{n_excluded} excluded of {total}")
    # Parseable artifact (r6 verdict item 3): the FULL-registry run's
    # per-entry record goes to bench_out/VERIFY_full.json so the judge
    # reads counts, not prose.  Filtered runs don't overwrite it, and
    # excluded entries are recorded explicitly (status + count) so the
    # artifact can never masquerade as a full run when
    # SPARK_GRAFT_VERIFY_EXCLUDE skipped anything (r7 advice).
    if not name_filter:
        import json as _json
        out_dir = os.path.join(REPO, "bench_out")
        os.makedirs(out_dir, exist_ok=True)
        payload = {"sf_dir": sf_dir, "total": total, "passed": passed,
                   "rows_only": rows_only, "failed": len(failures),
                   "runtime_confs_drift": drifted, "entries": record}
        if n_excluded:
            payload["excluded"] = n_excluded
        # SPARK_GRAFT_VERIFY_OUT names the artifact (default
        # VERIFY_full.json) so an sf1 audit and the sf0.01 full gate
        # can run concurrently without clobbering each other's record
        out_name = os.environ.get("SPARK_GRAFT_VERIFY_OUT",
                                  "VERIFY_full.json")
        with open(os.path.join(out_dir, out_name), "w") as f:
            _json.dump(payload, f, indent=1)
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
