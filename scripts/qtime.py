"""Time, scale-test or explain registry entries in one Spark session.

Entries default to bench.py's 64 frozen ones; --all takes all of them.
Timing is bench.py's own kernel: one warm-up pass at sf0.001, then
--runs interleaved noop-sink passes, each fenced by a calibration
probe.  Per entry and sf dir: the median and the run-order samples.

  time   one --sf.  For one entry the passes are isolated runs.
  slope  --sf SMALL --sf BIG, passes alternating.  Per entry: ratio =
         t(big)/t(small); flagged_over_10x lists ratios above 10 (10x
         the data at linear-or-better scaling stays under 10x).
  plan   --explain DIR writes each entry's explain("formatted") at the
         first --sf to DIR/<entry>.txt and puts plan-node counts in the
         result's "plan" summary.  --runs 0 explains without timing.

Prints one JSON line on stdout.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402

#: physical-plan nodes counted per entry in plan mode
PATTERNS = {k: re.compile(rf"\b({v})\b") for k, v in {
    "exchange": "Exchange", "reused_exchange": "ReusedExchange",
    "sort_merge_join": "SortMergeJoin",
    "shuffled_hash_join": "ShuffledHashJoin",
    "broadcast_hash_join": "BroadcastHashJoin",
    "bnl_join": "BroadcastNestedLoopJoin", "cartesian": "CartesianProduct",
    "batch_eval_python": "BatchEvalPython",
    "arrow_eval_python": "ArrowEvalPython",
    "map_in_pandas": "MapInPandas|FlatMapGroupsInPandas",
    "map_in_arrow": "MapInArrow|PythonMapInArrow"}.items()}


def explain_all(spark, qs, names, sf_dir, out_dir) -> dict:
    """Write each entry's formatted plan to ``out_dir``; summarize the
    node counts.  An entry whose plan fails to build counts as an error."""
    os.makedirs(out_dir, exist_ok=True)
    entries = {}
    for name in names:
        try:
            df = qs[name](spark, sf_dir)
            txt = spark._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
        except Exception as e:
            entries[name] = {"error": f"{type(e).__name__}: {e}"}
            continue
        with open(os.path.join(out_dir, f"{name}.txt"), "w") as f:
            f.write(txt)
        entries[name] = {k: len(p.findall(txt)) for k, p in PATTERNS.items()}
        entries[name]["plan_lines"] = txt.count("\n") + 1
        entries[name]["pushed_filters"] = bool(
            re.search(r"PushedFilters: \[[^\]]", txt))
    ok = {k: v for k, v in entries.items() if "error" not in v}

    def top(key):
        return sorted(((k, v[key]) for k, v in ok.items()),
                      key=lambda kv: -kv[1])[:15]

    return {
        "sf_dir": sf_dir,
        "n_entries": len(entries),
        "n_ok": len(ok),
        "n_error": len(entries) - len(ok),
        "totals": {k: sum(v[k] for v in ok.values()) for k in (
            "batch_eval_python", "cartesian", "arrow_eval_python",
            "map_in_pandas", "map_in_arrow")},
        "entries_with_batch_eval_python": sorted(
            k for k, v in ok.items() if v["batch_eval_python"]),
        "entries_with_cartesian": sorted(
            k for k, v in ok.items() if v["cartesian"]),
        "top_plan_lines": top("plan_lines"),
        "top_exchanges": top("exchange"),
        "entries": entries,
    }


def run(spark, qs, names, sf_dirs, runs, explain_dir=None,
        probe=bench.calibration_probe) -> dict:
    """Explain and/or time ``names`` at ``sf_dirs`` (see the module
    docstring); returns the JSON-ready result."""
    out: dict = {"sf_dirs": list(sf_dirs), "runs": runs}
    if runs:
        bench.warm_up(spark, qs, names)
    if explain_dir:
        out["plan"] = explain_all(spark, qs, names, sf_dirs[0], explain_dir)
    if not runs:
        return out
    probes = [probe(spark)]
    samples = {d: {n: [] for n in names} for d in sf_dirs}
    for _ in range(runs):
        for d in sf_dirs:
            bench.fenced_pass(spark, qs, names, d, samples[d], probes, probe)
    out["samples"] = {d: bench.rounded(s) for d, s in samples.items()}
    out["medians"] = meds = {d: bench.medians(s)[0] for d, s in samples.items()}
    out["totals"] = {d: round(sum(m.values()), 3) for d, m in meds.items()}
    out["probes"] = probes
    if len(sf_dirs) == 2:
        small, big = meds.values()
        ratio = out["ratio"] = {n: round(big[n] / small[n], 2)
                                if small[n] > 0 else None for n in names}
        out["flagged_over_10x"] = sorted(
            (n for n, r in ratio.items() if r is not None and r > 10.0),
            key=lambda n: -ratio[n])
    return out


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("names", nargs="*", help="registry entries")
    ap.add_argument("--all", action="store_true", help="every entry, by name")
    ap.add_argument("--sf", action="append", required=True, metavar="DIR")
    ap.add_argument("--runs", type=int, default=3, help="passes per --sf")
    ap.add_argument("--explain", metavar="DIR", help="plan mode")
    a = ap.parse_args(argv)
    if len(set(a.sf)) != len(a.sf) or len(a.sf) > 2:
        ap.error("give one --sf, or two different ones")
    if a.runs < 0 or not (a.runs or a.explain):
        ap.error("--runs must be positive, or 0 with --explain")

    import __spark_entry__ as entrymod
    from aws_etl_bank_spark.session import get_spark

    qs = entrymod.queries()
    names = sorted(qs) if a.all else a.names or bench.HEADLINE + bench.HEADLINE2
    unknown = [n for n in names if n not in qs]
    if unknown:
        ap.error(f"not registry entries: {', '.join(unknown)}")
    spark = get_spark("qtime")
    spark.sparkContext.setLogLevel("OFF")
    print(json.dumps(run(spark, qs, names, a.sf, a.runs, a.explain)), flush=True)


if __name__ == "__main__":
    main()
