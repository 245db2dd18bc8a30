"""Seeded input generator: a banking raw zone in the FIXTURES.md family-A
shape (header row, every value a string, ``\\N`` for nulls), plus the
daily-refresh extracts and transaction drops.

Every table is a pure function of ``(seed, sizes)``.  Transaction times
fall inside the fact query's date-dimension range (2015-01-01 ..
2024-12-31); a transaction outside it would inner-join to nothing, and a
zone whose fact comes out empty makes the catalog stage fail, so
:func:`write_raw_zone` checks the written zone with the oracle's fact
query and refuses one whose fact is empty.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

import numpy as np
import pandas as pd

from perfbench import oracle

NULL = r"\N"
DAY0 = np.datetime64("2015-01-01")
N_DAYS = 3653  # 2015-01-01 .. 2024-12-31, the range run_banking_etl's date dim covers

ACCOUNT_TYPES = pd.DataFrame({
    "type_id": ["1", "2", "3"],
    "type_nm": ["RGB", "BB", "WB"],
    "description": ["regular banking", "business banking", "wealth banking"],
    "eff_dt": ["2015-01-01"] * 3,
    "mat_dt": ["2030-12-31"] * 3,
})
PAYMENT_TYPES = pd.DataFrame({
    "type_code": ["P01", "P02", "P03", "P04", "P05"],
    "type_nm": ["normal_payment", "restaurant_payment", "technical_payment",
                "online_payment", "transfer_payment"],
    "eff_dt": ["2015-01-01"] * 5,
    "mat_dt": ["2030-12-31"] * 5,
})
#: the amount written into a planted malformed transaction row
MALFORMED_AMOUNT = "#VALUE!"


@dataclass(frozen=True)
class Sizes:
    customers: int
    accounts: int
    transactions: int


def _dates(rng, n, lo=0, hi=N_DAYS):
    return (DAY0 + rng.integers(lo, hi, n).astype("timedelta64[D]")).astype(str)


def customers(rng, n: int, first_id: int = 1) -> pd.DataFrame:
    ids = np.arange(first_id, first_id + n)
    end = np.where(rng.random(n) < 0.1, _dates(rng, n), NULL)
    return pd.DataFrame({
        "cust_id": ids.astype(str),
        "cust_nm": np.char.add("customer_", ids.astype(str)),
        "add_id": np.char.add("A", rng.integers(1, 5000, n).astype(str)),
        "opn_dt": _dates(rng, n, 0, 3287),
        "end_dt": end,
    })


def accounts(rng, n: int, n_customers: int, first_id: int = 1) -> pd.DataFrame:
    ids = np.arange(first_id, first_id + n)
    # skewed ownership: squaring a uniform draw piles accounts onto the
    # low customer ids, so a few customers dominate the fact
    owner = (n_customers * rng.random(n) ** 2).astype(np.int64) + 1
    end = np.where(rng.random(n) < 0.1, _dates(rng, n), NULL)
    return pd.DataFrame({
        "acc_id": ids.astype(str),
        "cust_id": owner.astype(str),
        "acc_type": rng.integers(1, 4, n).astype(str),
        "opn_dt": _dates(rng, n, 0, 3287),
        "end_dt": end,
    })


def transactions(rng, n: int, n_accounts: int, first_id: int = 1,
                 day_lo: int = 0, day_hi: int = N_DAYS) -> pd.DataFrame:
    """``n`` payment rows.  Each account trades inside a 30-day window so
    (account, day) groups hold several rows, and 1% of rows reuse an
    earlier trans_id (the reference data's trans_id is not unique)."""
    acc = (n_accounts * rng.random(n) ** 1.5).astype(np.int64) + 1
    span = max(day_hi - day_lo - 30, 1)
    acc_base = np.random.default_rng(n_accounts).integers(0, span, n_accounts + 1)
    day = day_lo + (acc_base[acc] + rng.integers(0, 30, n)) % (day_hi - day_lo)
    secs = rng.integers(0, 86400, n).astype("timedelta64[s]")
    ts = (DAY0 + day.astype("timedelta64[D]")).astype("datetime64[s]") + secs
    ids = np.arange(first_id, first_id + n)
    dup = rng.random(n) < 0.01
    ids[dup] = np.maximum(ids[dup] - 1, first_id)
    amount = np.round(np.exp(rng.normal(5.0, 1.6, n)).clip(1.0, 1e6), 2)
    before = rng.integers(0, 10_000_000, n)
    return pd.DataFrame({
        "trans_id": ids.astype(str),
        "acc_id": acc.astype(str),
        "before_balance": before.astype(str),
        "amount": np.char.mod("%.2f", amount),
        "after_balance": (before + amount.astype(np.int64)).astype(str),
        "transaction_time": np.datetime_as_string(ts, unit="s"),
        "payment_code": PAYMENT_TYPES.type_code.to_numpy()[rng.integers(0, 5, n)],
    }).assign(transaction_time=lambda d: d.transaction_time.str.replace("T", " "))


def write_csv(df: pd.DataFrame, path: str) -> int:
    """Write ``df`` as a header+all-strings CSV; returns its size in bytes."""
    df.to_csv(path, index=False, na_rep=NULL)
    return os.path.getsize(path)


def raw_zone(seed: int, sizes: Sizes) -> dict[str, pd.DataFrame]:
    rng = np.random.default_rng(seed)
    return {
        "customer": customers(rng, sizes.customers),
        "account": accounts(rng, sizes.accounts, sizes.customers),
        "account_type": ACCOUNT_TYPES,
        "payment_type": PAYMENT_TYPES,
        "payment_transaction": transactions(rng, sizes.transactions, sizes.accounts),
    }


def write_raw_zone(raw_dir: str, seed: int, sizes: Sizes) -> dict:
    """Write the five raw-zone CSVs; returns ``{"bytes", "fact_rows",
    "transactions"}``.  When the fact would be empty, removes what it
    wrote and raises."""
    os.makedirs(raw_dir, exist_ok=True)
    total = sum(write_csv(df, os.path.join(raw_dir, f"{name}.csv"))
                for name, df in raw_zone(seed, sizes).items())
    fact_rows = oracle.fact_rows(raw_dir)
    if fact_rows == 0:
        shutil.rmtree(raw_dir)
        raise ValueError("generated raw zone joins to an empty fact; refusing to use it")
    return {"bytes": total, "fact_rows": fact_rows, "transactions": sizes.transactions}


def plant_malformed(rng, drop: pd.DataFrame, n_bad: int) -> pd.DataFrame:
    """Overwrite the amount of ``n_bad`` seed-chosen rows with a value
    that does not parse as a number."""
    bad = rng.choice(len(drop), n_bad, replace=False)
    out = drop.copy()
    out.loc[out.index[bad], "amount"] = MALFORMED_AMOUNT
    return out


def _mutate(v: str) -> str:
    if v == NULL:
        return "2024-12-31"
    if v.isdigit():
        return str(int(v) % 3 + 1)
    return v + "*"


def changed_extract(rng, current: pd.DataFrame, key: str, mutable: list[str],
                    n_updates: int, n_inserts: int, make_new) -> pd.DataFrame:
    """The next day's full extract: ``current`` with ``n_updates``
    seed-chosen rows changed in one of the ``mutable`` columns and
    ``n_inserts`` rows from ``make_new(rng, n, first_id)`` appended."""
    out = current.copy()
    rows = out.index[rng.choice(len(out), n_updates, replace=False)]
    cols = rng.choice(mutable, n_updates)
    for col in mutable:
        idx = rows[cols == col]
        out.loc[idx, col] = out.loc[idx, col].map(_mutate)
    first = int(out[key].astype(np.int64).max()) + 1
    return pd.concat([out, make_new(rng, n_inserts, first)], ignore_index=True)


def scd2_history(prev: pd.DataFrame, cur: pd.DataFrame, key: str,
                 prev_day: str, cur_day: str) -> pd.DataFrame:
    """An SCD2 dim that has seen two extracts: ``prev`` stamped active on
    ``prev_day``, then ``cur`` merged on ``cur_day``.  Rows of ``prev``
    that ``cur`` changed are closed on ``cur_day``; changed and new rows
    of ``cur`` become active versions created on ``cur_day``."""
    old = prev.set_index(key)
    new = cur.set_index(key)
    same_keys = new.index.intersection(old.index)
    changed = (new.loc[same_keys] != old.loc[same_keys]).any(axis=1)
    changed_keys = same_keys[changed.to_numpy()]
    fresh = ~new.index.isin(old.index) | new.index.isin(changed_keys)
    closed = old.loc[changed_keys].reset_index()
    open_end = pd.Timestamp("3000-01-01").date()
    parts = [
        closed.assign(is_active=False, record_created_time=pd.Timestamp(prev_day, tz="UTC"),
                      record_updated_time=pd.Timestamp(cur_day).date()),
        new[~fresh].reset_index().assign(
            is_active=True, record_created_time=pd.Timestamp(prev_day, tz="UTC"),
            record_updated_time=open_end),
        new[fresh].reset_index().assign(
            is_active=True, record_created_time=pd.Timestamp(cur_day, tz="UTC"),
            record_updated_time=open_end),
    ]
    return pd.concat(parts, ignore_index=True)


def typed_transactions(df: pd.DataFrame) -> pd.DataFrame:
    """Transaction rows with the types the ingest's mapping gives them,
    plus the ``p_year`` partition column."""
    ts = pd.to_datetime(df.transaction_time).dt.tz_localize("UTC")
    return pd.DataFrame({
        "trans_id": df.trans_id.astype(np.int64),
        "acc_id": df.acc_id.astype(np.int64),
        "before_balance": df.before_balance.astype(np.int64),
        "amount": df.amount.astype(np.float64),
        "after_balance": df.after_balance.astype(np.int64),
        "transaction_time": ts.astype("datetime64[us, UTC]"),
        "payment_code": df.payment_code,
        "p_year": ts.dt.year.astype(np.int32),
    })


def write_parquet(df: pd.DataFrame, path: str, partition_cols: list[str] | None = None):
    """Write ``df`` as a parquet directory (hive-partitioned on
    ``partition_cols``) that Spark reads back with the same types."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.Table.from_pandas(df, preserve_index=False)
    if partition_cols:
        pq.write_to_dataset(table, path, partition_cols=partition_cols, coerce_timestamps="us")
    else:
        os.makedirs(path, exist_ok=True)
        pq.write_table(table, os.path.join(path, "part-00000.parquet"), coerce_timestamps="us")
