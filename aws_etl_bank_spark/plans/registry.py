"""Query registry: one named entry per implemented operator (SURVEY.md §2),
each with a Spark callable ``(spark, sf_dir) -> DataFrame`` and — where
SQL-expressible — a DuckDB oracle over the same parquet tables.

Conventions keeping Spark and DuckDB hash-comparable:
- every computed column is aliased identically on both sides;
- double aggregates are ROUND(x, 2/4) on both sides (raw doubles from
  parquet pass through untouched);
- DuckDB ``sum(int)`` is cast to BIGINT and ``year()``-family to INTEGER
  to match Spark's types;
- arrays are sorted and joined to strings before comparison.

Scratch writes (CSV round-trip, partitioned-catalog fixtures, spigot)
go under ``.scratch/`` in the repo.
"""

from __future__ import annotations

import importlib
import os
import re
import shutil
import time
import uuid
from dataclasses import dataclass
from typing import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

SCRATCH = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))), ".scratch")


@dataclass
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    part: str  # defining module; orders the entry (see PARTS)


#: filled by @q in import order; read it through load_registry()
REGISTRY: dict[str, QuerySpec] = {}


def q(name: str, oracle: str | None = None):
    def deco(fn):
        # a name collision silently SHADOWS the earlier entry (dict
        # write wins) and its driver evidence — caught live in r13
        # when a draft re-used ops_observe_metrics; make it loud
        if name in REGISTRY:
            raise ValueError(
                f"duplicate registry entry {name!r}: a second @q would "
                "silently shadow the first (and its driver evidence); "
                "pick a new name or delete the old entry explicitly")
        REGISTRY[name] = QuerySpec(fn, oracle, fn.__module__)
        return fn

    return deco


def canon0(c) -> "F.Column":
    """Canonicalize IEEE ``-0.0`` → ``+0.0`` on a rounded SIGNED double.

    The driver's value hash is bitwise, so ``ROUND()`` of a tiny
    negative (a delta, slope, z-score, log-ratio — anything built from
    subtraction) can emit ``-0.0`` on one engine and ``+0.0`` on the
    other and mismatch even though the values compare equal (the r5
    ``ts_trend_slope`` failure).  ``x + 0.0`` maps either zero to
    ``+0.0``; apply it — with a matching ``+ 0`` in the oracle SQL — to
    EVERY rounded output column whose pre-round value can be negative.
    Audited r7: all base testdata measures are strictly positive
    (events.value, *_price, quantities), so sums/avgs/EWMAs/medians of
    them cannot round to -0.0; the signed-output entries are
    ``ts_trend_slope`` (slope/corr), ``ts_rolling_zscore*`` (z),
    ``win_lag_delta`` (difference of float sums), and
    ``llm_dsir_select`` (log-likelihood ratios, Gumbel scores) — all
    carry this canonicalization on both engines."""
    return c + F.lit(0.0)


def _scratch(sf_dir: str, leaf: str) -> str:
    tag = os.path.basename(os.path.normpath(sf_dir))
    path = os.path.join(SCRATCH, tag, leaf)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    return path


#: age after which a per-run scratch leaf is swept by a later run
_RUN_LEAF_MAX_AGE_S = 1800


def _scratch_run(sf_dir: str, prefix: str) -> str:
    """A fresh scratch leaf ``<prefix>_<hex>`` for one run's checkpoint
    or sink; same-prefix siblings older than 30 minutes are removed.

    The leaf cannot be deleted when the entry returns (the returned
    frame reads it lazily, after the entry exits) nor be a fixed name
    (two runs at the same SF would race), so growth is bounded by the
    runs of the last half hour, and a live concurrent run's leaf is
    never touched."""
    path = _scratch(sf_dir, f"{prefix}_{uuid.uuid4().hex}")
    # a uuid hex, or the millisecond stamp earlier runs used
    stamped = re.compile(re.escape(prefix) + r"_([0-9a-f]{32}|[0-9]{13})")
    cutoff = time.time() - _RUN_LEAF_MAX_AGE_S
    for entry in os.scandir(os.path.dirname(path)):
        if not stamped.fullmatch(entry.name):
            continue
        try:
            if entry.stat(follow_symlinks=False).st_mtime < cutoff:
                shutil.rmtree(entry.path, ignore_errors=True)
        except OSError:
            pass  # raced with a concurrent sweep that removed it
    return path


#: The registry part modules in REGISTRY order.  ``load_registry``
#: sorts entries by their part's position here, then by definition
#: order within the part, so the order the driver rotation window and
#: the COVERAGE.md ledger index into does not depend on which module
#: was imported first.
PARTS = (
    "aws_etl_bank_spark.plans.registry_core",
    "aws_etl_bank_spark.plans.registry_sources_sketches",
    "aws_etl_bank_spark.plans.registry_analytics_core",
    "aws_etl_bank_spark.plans.registry_analytics_ext",
    "aws_etl_bank_spark.plans.registry_dialect",
    "aws_etl_bank_spark.plans.registry_llm_corpus",
    "aws_etl_bank_spark.plans.registry_llm_stream",
    "aws_etl_bank_spark.plans.registry_llm_scale",
)


def load_registry() -> dict[str, QuerySpec]:
    """Import every part in ``PARTS`` and return all entries in
    ``PARTS`` order (a stable sort, so definition order holds within a
    part)."""
    for part in PARTS:
        importlib.import_module(part)
    rank = {part: i for i, part in enumerate(PARTS)}
    return dict(sorted(REGISTRY.items(), key=lambda kv: rank[kv[1].part]))
