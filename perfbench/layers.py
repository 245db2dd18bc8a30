"""Per-layer metrics of a traced run: spans from the wrapped engine entry
points, Spark's event log for each traced op's wall interval, and the
counts the workloads' checks measured on disk.  Each metric is the
median over the run's traced ops."""

from __future__ import annotations

import statistics
from collections import defaultdict

from perfbench.trace import (ancestors, index_events, read_event_log, scan_totals,
                             self_times, spark_metrics, union_length)

#: span name → (seconds metric, count metric or None)
SPAN_METRICS = {
    "pipeline.Glue_S3toS3": ("pipeline.transform_s", None),
    "pipeline.Crawler_Register": ("pipeline.register_s", None),
    "flagship.etl": ("flagship.etl_s", None),
    "write.fact": ("flagship.fact_write_s", None),
    "catalog.crawl": ("catalog.crawl_s", "catalog.crawls"),
    "context.catalog_read": ("context.catalog_read_s", "context.catalog_reads"),
    "jobstate.filter_new_files": ("jobstate.filter_new_files_s", None),
    "jobstate.commit": ("jobstate.commit_s", None),
    "dynamicframe.ingest": ("dynamicframe.ingest_s", None),
    "scd.diff_merge": ("scd.diff_merge_s", None),
}


def op_layers(spans, rec, idx) -> dict[str, float]:
    """The per-layer metrics of one traced op."""
    by_id = {s.id: s for s in spans}
    m: dict[str, float] = defaultdict(float)
    for s in spans:
        sec, cnt = SPAN_METRICS.get(s.name, (None, None))
        if sec:
            m[sec] += s.duration
        if cnt:
            m[cnt] += 1
        if s.name == "write.dim" and any(a.name == "flagship.etl" for a in ancestors(s, by_id)):
            m["flagship.dim_write_s"] += s.duration
        if s.name.startswith("analyst."):
            m[f"{s.name}_s"] += s.duration
        m["jobstate.new_files"] += s.attrs.get("new_files", 0)
    if m["pipeline.transform_s"]:
        # the transform stage is run_banking_etl plus the fact.count()
        # that re-executes the fact query
        m["pipeline.fact_count_s"] = m["pipeline.transform_s"] - m["flagship.etl_s"]
    m.update(spark_metrics(idx, rec["start"], rec["end"]))
    report = [(s.start, s.end) for s in spans if s.name.startswith("analyst.")]
    files, rows = scan_totals(idx, report)
    m["scan.files_read"] = files
    if rec.get("report_rows"):
        m["scan.rows_read_per_row_out"] = rows / rec["report_rows"]
    m["spark.files_written"] = rec.get("files_written", 0)
    m["write_amp"] = rec.get("write_amp", 0.0)
    m["dynamicframe.error_records"] = rec.get("error_records", 0)
    m["scd.changed_rows"] = rec.get("changed_rows", 0)
    m["scd.dim_rows"] = rec.get("dim_rows", 0)
    if rec.get("changed_rows"):
        m["scd.bytes_written_per_changed_row"] = rec["dim_bytes_written"] / rec["changed_rows"]
    if rec.get("predicate_rows"):
        m["dynamicframe.predicate_calls_per_row"] = rec["predicate_calls"] / rec["predicate_rows"]
    (op_span,) = [s for s in spans if s.name == "op"]
    top = [(s.start, s.end) for s in spans if s.parent == op_span.id]
    m["trace.top_level_coverage"] = union_length(top) / op_span.duration
    return m


def per_layer(tracer, ops: list[dict], log_dir: str, extra: dict, names):
    """(metrics, self-time table) for the traced ops of a run; every one
    of ``names`` is present, 0 where the run never reached its layer."""
    idx = index_events(read_event_log(log_dir))
    selfs = self_times(tracer.spans)
    traced = [r for r in ops if r["traced"] and "error" not in r]
    per_op, table = [], defaultdict(lambda: defaultdict(list))
    for rec in traced:
        spans = [s for s in tracer.spans if s.op == rec["op"]]
        per_op.append(op_layers(spans, rec, idx))
        sums = defaultdict(lambda: [0.0, 0.0, 0])
        for s in spans:
            sums[s.name][0] += s.duration
            sums[s.name][1] += selfs[s.id]
            sums[s.name][2] += 1
        for name, (total, own, n) in sums.items():
            table[name]["total_s"].append(total)
            table[name]["self_s"].append(own)
            table[name]["count"].append(n)
    keys = set(names).union(*per_op)
    metrics = {k: statistics.median(m.get(k, 0.0) for m in per_op) if per_op else 0.0
               for k in keys}
    metrics["pipeline.retries"] = float(extra["retries"])
    metrics.update(extra["jvm"])
    metrics["host.probe_s"] = extra["host.probe_s"]
    metrics["peak_rss_mb"] = extra["peak_rss_mb"]
    untraced = [r["wall_s"] for r in ops if not r["traced"] and "error" not in r]
    traced_walls = [r["wall_s"] for r in traced]
    if traced_walls and untraced:
        metrics["trace.op_p50_s"] = statistics.median(traced_walls)
        metrics["trace.overhead"] = metrics["trace.op_p50_s"] / statistics.median(untraced)
    self_table = {name: {k: statistics.median(v) for k, v in cols.items()}
                  for name, cols in table.items()}
    return metrics, self_table
