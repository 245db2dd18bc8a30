"""Pipeline runner — the engine-side replacement for the reference's Step
Function orchestration (SURVEY.md §3.3).

The reference machine (aws-resource-management/.../kietl.json:5-72,
orcs_glue_job.json:16-155) runs: extract Lambda → Glue job → crawler
start/poll loop, with 3 retry attempts at a 10 s interval and ×10 backoff
on throttling, and a catch-all route to Fail.  Here the same lifecycle is
a thin in-process runner:

- ordered :class:`Stage` list, each a callable over a shared context dict;
- per-stage retry with configurable attempts/interval/backoff (defaults
  mirror the reference's 3 / 10 s / ×10);
- a catch-all: the first exhausted stage marks the run FAILED and stops;
- catalog *registration* replaces the crawler poll loop — `Catalog.crawl`
  infers the schema with `spark.read` and writes the table entry
  synchronously, so there is nothing to poll.

The runner is driver-side control flow only — every data-moving stage
returns Spark jobs, so nothing here touches per-row processing.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from typing import Any, Callable

#: reference retry policy (orcs_glue_job.json:16-29)
DEFAULT_ATTEMPTS = 3
DEFAULT_INTERVAL_S = 10.0
DEFAULT_BACKOFF = 10.0


@dataclass
class Stage:
    name: str
    fn: Callable[[dict], Any]
    attempts: int = DEFAULT_ATTEMPTS
    interval_s: float = DEFAULT_INTERVAL_S
    backoff: float = DEFAULT_BACKOFF


@dataclass
class StageResult:
    name: str
    status: str          # "SUCCEEDED" | "FAILED"
    attempts: int
    error: str | None = None
    result: Any = None


@dataclass
class PipelineRun:
    status: str
    stages: list[StageResult] = field(default_factory=list)

    @property
    def failed_stage(self) -> str | None:
        for s in self.stages:
            if s.status == "FAILED":
                return s.name
        return None


class Pipeline:
    """Sequential stage runner with per-stage retry/backoff."""

    def __init__(self, stages: list[Stage], sleep: Callable[[float], None] = time.sleep):
        self.stages = stages
        self._sleep = sleep

    def run(self, context: dict | None = None) -> PipelineRun:
        ctx = context if context is not None else {}
        run = PipelineRun(status="SUCCEEDED")
        for stage in self.stages:
            wait = stage.interval_s
            last_err: Exception | None = None
            for attempt in range(1, stage.attempts + 1):
                try:
                    result = stage.fn(ctx)
                    run.stages.append(StageResult(stage.name, "SUCCEEDED", attempt, result=result))
                    last_err = None
                    break
                except Exception as e:  # noqa: BLE001 — catch-all → Fail, like the reference
                    last_err = e
                    if attempt < stage.attempts:
                        self._sleep(wait)
                        wait *= stage.backoff
            if last_err is not None:
                run.stages.append(StageResult(stage.name, "FAILED", stage.attempts, error=str(last_err)))
                run.status = "FAILED"
                break
        return run


def banking_pipeline(spark, raw_dir: str, golden_dir: str, engine_ctx=None,
                     database: str = "golden", fidelity: bool = False) -> Pipeline:
    """The reference's kietl lifecycle as engine stages: transform the raw
    zone (CSV dims → SCD2 parquet + fact snapshot) then register every
    golden table in the catalog (the crawler's job, done synchronously;
    the fact with its ``p_year`` partition key)."""
    from aws_etl_bank_spark.context import EngineContext
    from aws_etl_bank_spark.plans.flagship import BANKING_DIM_TABLES, run_banking_etl

    ectx = engine_ctx or EngineContext(spark)

    def transform(ctx: dict):
        """Write the dims and the fact; the result is the fact's row
        count, observed during its write, so the fact plan runs once."""
        fact = run_banking_etl(spark, raw_dir, golden_dir, fidelity=fidelity, write=True)
        ctx["fact_rows"] = fact.written_rows
        return ctx["fact_rows"]

    def register(ctx: dict):
        registered = []
        for table in BANKING_DIM_TABLES:
            ectx.catalog.crawl(spark, database, table, f"{golden_dir}/dim_{table}")
            registered.append(table)
        fact = "fact_snapshot_daily_transaction"
        ectx.catalog.crawl(spark, database, fact, f"{golden_dir}/{fact}",
                           partition_keys=["p_year"])
        registered.append(fact)
        ctx["registered"] = registered
        return registered

    return Pipeline([
        Stage("Glue_S3toS3", transform),
        Stage("Crawler_Register", register),
    ])
