"""End-to-end benchmark of the banking engine.

    python3 perfbench/run.py --workload nightly_etl --seed 1 --seconds 6 --trace 0

Run from the repository root.  One driver process starts Spark on
``local[<cores>]``, generates the workload's inputs from ``--seed``,
builds its stored state, warms up, then runs ops back to back (one
closed-loop client) until the ops have taken ``--seconds`` and at least
``MIN_OPS`` have run.  Every op's outputs are checked outside the timed
window; an op that raises, ends in a failed pipeline run or fails its
check counts as failed.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``).  The full record (samples,
percentiles, span self times) goes to ``.perfbench/results/``.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".perfbench")

#: the first ops in a fresh JVM cost up to three warm ones (class
#: loading, codegen, C2 compilation, Python worker start-up); set-up
#: runs this many before the window
WARMUP_OPS = 1
#: every window holds at least this many ops (the traced run one more:
#: it alternates untraced and traced ops, starting untraced).  Ops still
#: get cheaper inside the window as the JIT compiles, so a median over a
#: count of ops that varies from run to run mixes op positions; with
#: ``run_seconds`` below this many ops' time, the floor decides and
#: every run's median is over the same positions
MIN_OPS = 3
#: set-up builds the workload's inputs and state this many times and
#: counts the median build in ``setup_s``
SETUP_BUILDS = 3

END_TO_END = {"setup_s": "s", "op_p50_s": "s", "items_per_s": "items/s"}

#: per-layer metrics and their units; every traced run reports all of
#: them (0 where a workload never reaches the layer)
PER_LAYER = {
    "pipeline.transform_s": "s", "pipeline.register_s": "s", "pipeline.retries": "count",
    "pipeline.fact_count_s": "s",
    "flagship.etl_s": "s", "flagship.dim_write_s": "s", "flagship.fact_write_s": "s",
    "catalog.crawl_s": "s", "catalog.crawls": "count",
    "context.catalog_read_s": "s", "context.catalog_reads": "count",
    "analyst.month_rollup_s": "s", "analyst.segment_as_of_s": "s",
    "analyst.top_accounts_s": "s", "analyst.recent_daily_s": "s",
    "scan.files_read": "count", "scan.rows_read_per_row_out": "ratio",
    "jobstate.filter_new_files_s": "s", "jobstate.commit_s": "s", "jobstate.new_files": "count",
    "dynamicframe.ingest_s": "s", "dynamicframe.error_records": "count",
    "dynamicframe.predicate_calls_per_row": "ratio",
    "scd.diff_merge_s": "s", "scd.changed_rows": "count", "scd.dim_rows": "count",
    "scd.bytes_written_per_changed_row": "B/row",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s", "spark.jvm_gc_s": "s",
    "spark.shuffle_write_bytes": "B", "spark.shuffle_read_bytes": "B",
    "spark.spill_bytes": "B", "spark.input_bytes": "B", "spark.output_bytes": "B",
    "spark.files_written": "count", "spark.driver_gap_s": "s",
    "jvm.threads": "count", "jvm.heap_retained_mb": "MB", "peak_rss_mb": "MB",
    "write_amp": "ratio",
    "trace.op_p50_s": "s", "trace.overhead": "ratio", "trace.top_level_coverage": "ratio",
    "host.probe_s": "s",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


# -- memory ---------------------------------------------------------------------------

def _descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(entry))
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


class RssMeter:
    """Peak RSS (VmHWM) of the Python driver, the driver JVM and the
    JVM's Python workers.  ``reset`` clears the high-water marks, so
    ``peak_mb`` covers only what ran after it."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid

    def _pids(self):
        return [os.getpid(), self.jvm_pid] + _descendants(self.jvm_pid)

    def reset(self):
        for pid in self._pids():
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as fh:
                    fh.write("5")
            except OSError:
                pass

    def cpu_s(self) -> float:
        """CPU seconds (user + system, own and reaped children) used so
        far by the process tree."""
        ticks = 0
        for pid in self._pids():
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
                ticks += sum(int(f) for f in fields[11:15])
            except (OSError, IndexError, ValueError):
                pass
        return ticks / os.sysconf("SC_CLK_TCK")

    def peak_mb(self) -> float:
        total = 0
        for pid in self._pids():
            try:
                with open(f"/proc/{pid}/status") as fh:
                    for line in fh:
                        if line.startswith("VmHWM:"):
                            total += int(line.split()[1])
            except OSError:
                pass
        return total / 1024


# -- child processes -----------------------------------------------------------------

#: ``prctl`` option that makes orphaned descendants (Spark's Python
#: worker daemon, once the JVM is gone) reparent to this process
PR_SET_CHILD_SUBREAPER = 36


def become_subreaper():
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def stop_children():
    """End every process this run started and wait for each: close the
    py4j gateway, close the JVM's stdin (its cue to exit), then reap all
    descendants."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        try:
            gateway.shutdown()
        except Exception:  # noqa: BLE001 — the JVM may be gone already
            pass
        if proc is not None and proc.stdin is not None:
            proc.stdin.close()
        SparkContext._gateway = SparkContext._jvm = None
    reap_descendants()


def reap_descendants(timeout: float = 60.0):
    """Wait for every descendant to end and reap it; kill those still
    alive after ``timeout`` seconds."""
    deadline = time.monotonic() + timeout
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        left = _descendants(os.getpid())
        if not left:
            return
        if time.monotonic() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


# -- the run -------------------------------------------------------------------------

def start_spark(work: str, trace: bool):
    """The engine's own session (default JIT, default driver memory) on
    ``local[<cores>]``, with its scratch directories inside ``work``."""
    from aws_etl_bank_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    confs = {"spark.local.dir": os.path.join(work, "spark-local"),
             "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
             "spark.driver.extraJavaOptions": f"-Dderby.system.home={work}"}
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        confs.update({"spark.eventLog.enabled": "true",
                      "spark.eventLog.dir": "file://" + log_dir,
                      "spark.eventLog.compress": "false"})
    spark = get_spark("perfbench", master=f"local[{cores}]", extra_confs=confs)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def host_probe(spark) -> float:
    """Host speed, not program speed: the job of ``bench.calibration_probe``
    (md5 -> conv -> hash aggregate on 32 partitions) over a quarter of
    its 32M ids, run three times; the median.  The frozen function runs
    the full job four times, which a traced run's time limit cannot
    hold on a slow host."""
    df = (spark.range(0, 8_000_000, 1, 32)
          .selectExpr("id % 9973 AS k",
                      "conv(substring(md5(cast(id AS string)),1,15),16,10) AS h")
          .groupBy("k").agg({"h": "sum"}))
    times = []
    for _ in range(3):
        t = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        times.append(time.perf_counter() - t)
    return statistics.median(times)


def tail_percentile(samples: list[float]) -> dict | None:
    """The highest percentile with at least ten samples beyond it."""
    n = len(samples)
    if n < 11:
        return None
    k = n - 10  # samples at or below the percentile
    return {"p": round(100 * k / n, 1), "value": sorted(samples)[k - 1]}


def run(args) -> dict:
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    work = os.path.join(OUT, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        return _run(args, work, WORKLOADS[args.workload])
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str, workload) -> dict:
    from perfbench.trace import NULL_TRACER, Tracer

    t0 = time.perf_counter()
    spark = start_spark(work, bool(args.trace))
    try:
        start_s = time.perf_counter() - t0
        tracer = Tracer() if args.trace else NULL_TRACER
        data = os.path.join(work, "data")
        builds = []
        for _ in range(SETUP_BUILDS):
            shutil.rmtree(data, ignore_errors=True)
            wl = workload(spark, data, args.seed)
            t = time.perf_counter()
            wl.setup()
            builds.append(time.perf_counter() - t)
        t = time.perf_counter()
        for k in range(WARMUP_OPS):
            wl.op(-1 - k)
            wl.check(-1 - k)
            wl.restore(-1 - k)
        setup_s = start_s + statistics.median(builds) + time.perf_counter() - t
        if args.trace:
            wl.calls = spark.sparkContext.accumulator(0)
        rss = RssMeter(spark.sparkContext._jvm.ProcessHandle.current().pid())
        rss.reset()
        ops, op_time, i = [], 0.0, 0
        while op_time < args.seconds or i < MIN_OPS + args.trace:
            traced = bool(args.trace) and i % 2 == 1
            wl.tracer = tracer if traced else NULL_TRACER
            if args.trace:
                tracer.op = i if traced else None
            calls0 = wl.calls.value if wl.calls is not None else 0
            rec = {"op": i, "traced": traced, "start": time.time()}
            if traced:
                tracer.install()
            cpu0 = rss.cpu_s()
            t = time.perf_counter()
            try:
                with wl.tracer.span("op"):
                    rec["items"] = wl.op(i)
                rec["wall_s"] = time.perf_counter() - t
                rec["end"] = time.time()
                rec["cpu_s"] = rss.cpu_s() - cpu0
                tracer.uninstall()
                rec.update(wl.check(i))
                rec["write_amp"] = rec["bytes_written"] / wl.input_bytes
                if traced and wl.calls is not None:
                    rec["predicate_calls"] = wl.calls.value - calls0
            except Exception:  # noqa: BLE001 — an op failure is counted; the run goes on
                rec.setdefault("wall_s", time.perf_counter() - t)
                rec.setdefault("end", time.time())
                rec["error"] = traceback.format_exc(limit=4)
                tracer.uninstall()
            op_time += rec["wall_s"]
            try:
                wl.restore(i)
            except OSError:
                rec["error"] = rec.get("error") or traceback.format_exc(limit=4)
            rec["rss_mb"] = rss.peak_mb()
            ops.append(rec)
            i += 1
        wl.tracer = NULL_TRACER
        if args.trace:
            from perfbench.trace import jvm_state

            layers = {"jvm": jvm_state(spark), "retries": wl.retries,
                      "host.probe_s": host_probe(spark),
                      "peak_rss_mb": ops[MIN_OPS - 1]["rss_mb"]}
    finally:
        spark.stop()
    timed = [r for r in ops if not r["traced"]]
    good = [r for r in timed if "error" not in r]
    # a run whose ops all failed still reports measured times (and
    # correct=false)
    walls = [r["wall_s"] for r in good or timed]
    result = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "ops": ops,
        "attempted": len(ops), "failed": sum("error" in r for r in ops),
        "metrics": {
            "setup_s": setup_s,
            "op_p50_s": statistics.median(walls),
            "items_per_s": sum(r["items"] for r in good) / sum(r["wall_s"] for r in timed),
            # the heap grows with the ops run, so the peak is compared
            # at an equal op count: after the window's first MIN_OPS ops
            "peak_rss_mb": ops[MIN_OPS - 1]["rss_mb"],
        },
        "setup_builds_s": builds,
        "op_samples": len(walls),
        "op_tail": tail_percentile(walls),
    }
    result["error_rate"] = result["failed"] / result["attempted"]
    if args.trace:
        from perfbench.layers import per_layer

        result["layers"], result["self_times"] = per_layer(
            tracer, ops, os.path.join(work, "eventlog"), layers, PER_LAYER)
        tracer.dump(os.path.join(OUT, "results",
                                 f"{args.workload}-s{args.seed}-spans.json"))
    return result


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "aws_etl_bank_spark")):
        print("perfbench: the engine package aws_etl_bank_spark is not beside perfbench/",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # Python workers must import the engine (and this package, for the
    # ingest predicate) to unpickle DynamicFrame closures
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.makedirs(os.path.join(OUT, "results"), exist_ok=True)
    become_subreaper()
    try:
        result = run(args)
    finally:
        stop_children()
    with open(os.path.join(OUT, "results",
                           f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as fh:
        json.dump(result, fh, indent=1, default=str)
    if args.trace:
        metrics = {k: {"value": result["layers"][k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": result["metrics"][k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"correct": result["failed"] == 0, "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
