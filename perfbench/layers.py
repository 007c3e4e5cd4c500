"""Per-layer metrics of a traced run, derived from its spans and Spark
counters. Only spans of timed-loop operations (operation id != 0) count;
set-up spans are kept in the trace file but not summarised here."""

from __future__ import annotations

import statistics
from collections import defaultdict

#: operation types whose Spark counters are reported, per operation
OP_TYPES = ("lookup.code", "lookup.search", "status", "upload", "ingest", "fold",
            "analytics.query", "retrieval.probe")
COUNTER_FIELDS = ("jobs", "stages", "tasks", "input_bytes", "shuffle_write_bytes", "executor_run_s")
#: span name -> per-layer metric: mean duration per call
MEAN_DURATION = {
    "pipeline.products": "pipeline.products_s",
    "ledger.append": "ledger.append_s",
    "ledger.status_of": "ledger.status_of_s",
    "ledger.current": "ledger.current_s",
    "landing.upload": "landing.upload_s",
    "landing.discover": "landing.discover_s",
    "landing.gc": "landing.gc_s",
    "json_ingest.read_bronze": "json_ingest.read_bronze_s",
    "merge.plan": "merge.plan_s",
    "find.plan": "find.plan_s",
}
FIND_ROUTES = ("api.do_find_code", "api.do_find_partial", "api.do_find_exact")


def _mean(xs) -> float:
    xs = list(xs)
    return statistics.mean(xs) if xs else 0.0


def derive(tracer, bench) -> dict:
    spans = [s for s in tracer.spans if s[2] != 0]
    self_t = tracer.self_times()
    by_name: dict[str, list[tuple]] = defaultdict(list)
    for s in spans:
        by_name[s[3]].append(s)
    out = {}
    for span_name, metric in MEAN_DURATION.items():
        out[metric] = (_mean(s[5] - s[4] for s in by_name[span_name]), "s")
    out["pipeline.ingest_self_s"] = (_mean(self_t[s[0]] for s in by_name["pipeline.ingest"]), "s")
    out["api.self_s"] = (_mean(self_t[s[0]] for s in by_name["api.http"]), "s")
    out["find.exec_s"] = (_mean(self_t[s[0]] for r in FIND_ROUTES for s in by_name[r]), "s")
    out["pipeline.deltas_at_read"] = (_mean(bench.deltas_at_read), "count")

    op_type = {op: t for op, t, _ in tracer.ops}
    per_type: dict[str, list[dict]] = defaultdict(list)
    for op, c in tracer.counters.items():
        per_type[op_type[op]].append(c)
    for t in OP_TYPES:
        for f in COUNTER_FIELDS:
            unit = "s" if f.endswith("_s") else ("bytes" if f.endswith("bytes") else "count")
            out[f"spark.{t}.{f}"] = (_mean(c[f] for c in per_type[t]), unit)
    lookups = per_type["lookup.code"] + per_type["lookup.search"]
    out["find.rows_examined_per_result"] = (
        sum(c["input_records"] for c in lookups) / max(1, bench.rows_returned), "ratio")
    out["ledger.files"] = (sum(1 for p in bench.wh_dir.glob("ledger*/**/*") if p.is_file()), "count")
    return out
