"""Output checks, computed independently of the engine with DuckDB over
the same files the engine read or wrote.  They run outside the timed
window; a failed check raises :class:`CheckFailed`, which fails the op."""

from __future__ import annotations

import duckdb
import pandas as pd


class CheckFailed(Exception):
    pass


def _con() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads = 2")
    con.execute("SET TimeZone = 'UTC'")
    return con


def _csv(path: str) -> str:
    return f"read_csv('{path}', header = true, all_varchar = true)"


def _parquet(path: str, hive: bool = False) -> str:
    return f"read_parquet('{path}/**/*.parquet', hive_partitioning = {str(hive).lower()})"


def _close(a: float, b: float) -> bool:
    """Two 2-decimal rounded aggregates of the same rows: summed in
    another order, a half-cent tie can round the other way."""
    return abs(a - b) <= 0.011 + 1e-12 * abs(b)


# -- nightly_etl -----------------------------------------------------------

def _fact_groups(raw: str) -> str:
    """The fact's grain from the raw CSVs, with the flagship query's
    joins and date range: one row per (day, customer, account) with its
    transaction count and rounded spending."""
    return f"""
    WITH t AS (
        SELECT CAST(CAST(t.transaction_time AS TIMESTAMP) AS DATE) AS d,
               a.cust_id, t.acc_id, CAST(t.amount AS DOUBLE) AS amount
        FROM {_csv(raw + '/payment_transaction.csv')} t
        JOIN {_csv(raw + '/account.csv')} a ON t.acc_id = a.acc_id
        JOIN {_csv(raw + '/payment_type.csv')} p ON t.payment_code = p.type_code
        JOIN {_csv(raw + '/account_type.csv')} y ON a.acc_type = y.type_id
    )
    SELECT d, cust_id, acc_id, COUNT(*) AS n, ROUND(SUM(amount), 2) AS s FROM t
    WHERE d BETWEEN DATE '2015-01-01' AND DATE '2024-12-31'
    GROUP BY d, cust_id, acc_id"""


def fact_rows(raw: str) -> int:
    """Rows the fact snapshot will hold for the raw zone under ``raw``."""
    with _con() as con:
        return con.execute(f"SELECT COUNT(*) FROM ({_fact_groups(raw)})").fetchone()[0]


def check_fact(golden: str, raw: str):
    """Every fact row matches its (day, customer, account) group computed
    from the raw CSVs: same key set, same transaction count, spending
    within a cent."""
    fact = _parquet(golden + "/fact_snapshot_daily_transaction", hive=True)
    q = f"""
    WITH e AS ({_fact_groups(raw)}),
    f AS (SELECT transaction_date AS d, CAST(cust_id AS VARCHAR) AS cust_id,
                 CAST(acc_id AS VARCHAR) AS acc_id,
                 account_no_transactions_daily AS n, account_daily_spending AS s
          FROM {fact})
    SELECT (SELECT COUNT(*) FROM e), (SELECT COUNT(*) FROM f),
           COUNT(*) FILTER (WHERE e.d IS NULL OR f.d IS NULL OR e.n <> f.n
                                  OR abs(e.s - f.s) > 0.011)
    FROM e FULL JOIN f ON e.d = f.d AND e.cust_id = f.cust_id AND e.acc_id = f.acc_id"""
    with _con() as con:
        want, got, bad = con.execute(q).fetchone()
    if not want or got != want or bad:
        raise CheckFailed(f"fact: {got} rows, expected {want} (non-zero); "
                          f"{bad} keys missing, extra or off by more than a cent")


# -- daily_refresh -----------------------------------------------------------

def changed_row_bytes(old: pd.DataFrame, new: pd.DataFrame, key: str) -> int:
    """CSV bytes of the rows of ``new`` that are inserted or changed
    relative to ``old``."""
    merged = new.merge(old, on=key, how="left", suffixes=("", "__old"), indicator=True)
    cols = [c for c in new.columns if c != key]
    changed = merged["_merge"] == "left_only"
    for c in cols:
        changed |= merged[c] != merged[f"{c}__old"]
    rows = new[changed.to_numpy()]
    return int(rows.astype(str).agg(",".join, axis=1).str.len().sum() + len(rows))


def check_dim(new: str, old: str, extract: str, key: str, updates: int, inserts: int):
    """After the merge: the active rows equal the day's extract, and the
    history grew by exactly the updated-key count."""
    with _con() as con:
        cols = [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM {_csv(extract)}").fetchall()]
        sel = ", ".join(cols)
        active = f"SELECT {sel} FROM {_parquet(new)} WHERE is_active"
        ext = f"SELECT {sel} FROM {_csv(extract)}"
        (extra,) = con.execute(f"SELECT COUNT(*) FROM ({active} EXCEPT ALL {ext})").fetchone()
        (missing,) = con.execute(f"SELECT COUNT(*) FROM ({ext} EXCEPT ALL {active})").fetchone()
        hist = "SELECT COUNT(*) FROM {} WHERE NOT is_active"
        (h_new,) = con.execute(hist.format(_parquet(new))).fetchone()
        (h_old,) = con.execute(hist.format(_parquet(old))).fetchone()
        (n_old,) = con.execute(f"SELECT COUNT(*) FROM {_parquet(old)} WHERE is_active").fetchone()
    if extra or missing:
        raise CheckFailed(f"{new}: active rows differ from the extract "
                          f"({extra} extra, {missing} missing)")
    if h_new - h_old != updates:
        raise CheckFailed(f"{new}: history grew by {h_new - h_old}, expected {updates}")
    return {"changed_rows": updates + inserts, "dim_rows": n_old + inserts + h_new}


def count_rows(path: str) -> int:
    with _con() as con:
        return con.execute(f"SELECT COUNT(*) FROM {_parquet(path)}").fetchone()[0]


#: the report queries in DuckDB, over the golden transactions table and
#: the op's dims; each returns rows in the engine query's column order
REPORT_SQL = {
    "month_rollup": """
        SELECT month(transaction_time) AS m, COUNT(*) AS n, ROUND(SUM(amount), 2) AS s
        FROM tx WHERE p_year = {year} GROUP BY 1""",
    "segment_as_of": """
        SELECT a.acc_type, substring(c.add_id, 1, 2) AS region, COUNT(*) AS n,
               ROUND(SUM(t.amount), 2) AS s
        FROM tx t
        JOIN (SELECT CAST(acc_id AS BIGINT) AS acc_id, acc_type, cust_id
              FROM acc WHERE is_active) a ON t.acc_id = a.acc_id
        JOIN (SELECT cust_id, add_id FROM cust
              WHERE CAST(record_created_time AS DATE) <= DATE '{as_of}'
                AND record_updated_time > DATE '{as_of}') c ON a.cust_id = c.cust_id
        WHERE t.p_year = {year} GROUP BY 1, 2""",
    "top_accounts": """
        SELECT acc_id, ROUND(SUM(amount), 2) AS s FROM tx
        WHERE p_year IN ({year} - 1, {year})
        GROUP BY 1 ORDER BY SUM(amount) DESC, acc_id LIMIT {top_n}""",
    "recent_daily": """
        SELECT CAST(transaction_time AS DATE) AS d, COUNT(*) AS n, ROUND(SUM(amount), 2) AS s
        FROM tx WHERE p_year = 2024
          AND transaction_time >= DATE '{as_of}' - INTERVAL 7 DAY GROUP BY 1""",
}


def report_expectation(tx: str, acc: str, cust: str, params: dict) -> dict[str, list[tuple]]:
    with _con() as con:
        con.execute(f"CREATE VIEW tx AS SELECT * FROM {_parquet(tx, hive=True)}")
        con.execute(f"CREATE VIEW acc AS SELECT * FROM {_parquet(acc)}")
        con.execute(f"CREATE VIEW cust AS SELECT * FROM {_parquet(cust)}")
        return {name: [tuple(r) for r in con.execute(q.format(**params)).fetchall()]
                for name, q in REPORT_SQL.items()}


def _norm(v):
    if hasattr(v, "isoformat"):
        return v.isoformat()[:10]
    return v


def check_report(got: dict[str, list[tuple]], expected: dict[str, list[tuple]]):
    """Same rows per query (order-insensitive), numbers equal within the
    slack of :func:`_close`."""
    for name, want in expected.items():
        g = sorted(tuple(_norm(v) for v in r) for r in got[name])
        w = sorted(tuple(_norm(v) for v in r) for r in want)
        if len(g) != len(w) or not w:
            raise CheckFailed(f"report {name}: {len(g)} rows, expected {len(w)} (non-empty)")
        for a, b in zip(g, w):
            for x, y in zip(a, b):
                ok = _close(x, y) if isinstance(y, float) else str(x) == str(y)
                if not ok:
                    raise CheckFailed(f"report {name}: row {a} != expected {b}")
