"""Per-layer metrics of a traced run.

Combines the benchmark's spans (``trace.py``), the streaming query's
progress reports (``durationMs`` per micro-batch), the table directory
diffs taken around each catch-up, and Spark's event log
(``ledger.py``). Only requests that start inside the measured window
count; set-up is reported as the two ``session.*`` spans, and the
operator pass that follows the window (``ops.py``) by its query runs.
"""

from __future__ import annotations

import glob
import os
import statistics

from ledger import Cost, EventLog, union_length
from ops import QUERIES

#: request span name -> ledger row name
LEDGER_KINDS = {
    "pipeline.process_batch": "batch",
    "request.index_sync": "index_sync",
    "request.point_read": "point_read",
    "request.range_read": "range_read",
    "request.index_lookup": "index_lookup",
    "request.full_read": "full_read",
}
COST_FIELDS = {
    "jobs": "count",
    "tasks": "count",
    "job_busy_s": "s",
    "driver_s": "s",
    "task_run_s": "s",
    "task_cpu_s": "s",
    "shuffle_write_bytes": "B",
}
STREAM_MS = {
    "trigger": "triggerExecution",
    "add_batch": "addBatch",
    "wal_commit": "walCommit",
    "query_planning": "queryPlanning",
    "latest_offset": "latestOffset",
    "commit_offsets": "commitOffsets",
}


def p50(xs) -> float:
    """Median of ``xs``; 0.0 when there are no samples."""
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def per_layer(run, e2e: dict, m_start: float, m_end: float) -> dict:
    """Every per-layer metric of ``run`` (a finished ``workload.Run``
    whose Spark session has stopped, so its event log is complete)."""
    tr = run.tracer
    tr.dump(os.path.join(run.work, "spans.jsonl"))
    spans = tr.spans
    measured = [s for s in spans if m_start <= s.start <= m_end]
    mirror = run.table.path
    out: dict[str, tuple[float, str]] = {}

    def named(name, parent_names=None, table=None):
        by_id = {s.id: s for s in spans}
        return [
            s for s in measured
            if s.name == name
            and (table is None or s.attrs.get("table") == table)
            and (
                parent_names is None
                or (s.parent is not None and by_id[s.parent].name in parent_names)
            )
        ]

    for s in spans:
        if s.name in ("session.start", "session.warmup"):
            out[f"{s.name}_s"] = (s.seconds, "s")

    progress = run.progress
    for key, src in STREAM_MS.items():
        out[f"stream.{key}_ms_p50"] = (p50(p["durationMs"].get(src, 0) for p in progress), "ms")
    out["stream.overhead_ms_p50"] = (
        p50(
            p["durationMs"]["triggerExecution"] - p["durationMs"].get("addBatch", 0)
            for p in progress
        ),
        "ms",
    )

    batches = named("pipeline.process_batch")
    out["pipeline.process_batch_s_p50"] = (p50(s.seconds for s in batches), "s")
    out["pipeline.self_s_p50"] = (
        p50(
            s.seconds - union_length([(c.start, c.end) for c in tr.children(s)], s.start, s.end)
            for s in batches
        ),
        "s",
    )
    out["pipeline.fan_out_s_p50"] = (p50(s.seconds for s in named("pipeline.fan_out")), "s")

    merges = named("sink.merge", {"pipeline.process_batch"}, mirror)
    out["sink.merge_s_p50"] = (p50(s.seconds for s in merges), "s")
    folds = named("sink.compact_runs", {"pipeline.process_batch"}, mirror)
    pb_total = sum(s.seconds for s in batches)
    out["sink.compact_runs_share"] = (
        sum(s.seconds for s in folds) / pb_total if pb_total else 0.0, "frac",
    )
    out["sink.bytes_written_per_event"] = (run.sink_bytes / run.events_applied, "B")
    out["sink.files_written_per_commit"] = (run.sink_files / max(1, run.commits), "count")
    live = run.table.base_bytes() + run.table.pending_run_bytes()
    out["sink.live_bytes_per_row"] = (live / max(1, len(run.log.state)), "B")
    out["sink.pending_run_bytes_frac"] = (p50(run.pending_frac), "frac")
    reqs = {f"request.{k}" for k in ("point_read", "range_read", "full_read")}
    for m in ("read_keys", "read_where", "read"):
        out[f"sink.{m}_s_p50"] = (p50(s.seconds for s in named(f"sink.{m}", reqs, mirror)), "s")
    # the full read's latency spreads wider between runs than any bound
    # the benchmark may set, so it is reported here, not end to end
    out["request.full_read_s_p50"] = (p50(run.samples["full_read_s"]), "s")
    kept, total = run.scan_kept
    out["sink.scan_files_kept_frac"] = (kept / total if total else 1.0, "frac")
    out["index.sync_s_p50"] = (p50(s.seconds for s in named("index.sync")), "s")
    out["index.lookup_s_p50"] = (p50(s.seconds for s in named("index.lookup")), "s")

    for q in QUERIES:
        out[f"op.{q}_s"] = (p50(run.samples[f"op.{q}_s"]), "s")

    out.update(_ledger(run, spans, measured))
    for k, v in e2e.items():
        out[f"traced.{k}"] = (v["value"], v["unit"])
    return {k: {"value": v, "unit": u} for k, (v, u) in out.items()}


def _ledger(run, spans, measured) -> dict:
    logs = glob.glob(os.path.join(run.eventlog_dir, "*"))
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {run.eventlog_dir}, found {logs}")
    log = EventLog.from_file(logs[0])
    windows = {
        str(s.id): (s.start, s.end)
        for s in spans
        if s.parent is None and (s.name.startswith("request.") or s.name in LEDGER_KINDS)
    }
    costs = log.attribute(windows)
    out = {}
    per_kind: dict[str, list[Cost]] = {}
    for s in measured:
        kind = LEDGER_KINDS.get(s.name)
        if kind is not None and s.parent is None:
            per_kind.setdefault(kind, []).append(costs[str(s.id)])
    for kind in LEDGER_KINDS.values():
        rows = per_kind.get(kind, [])
        for f, unit in COST_FIELDS.items():
            out[f"spark.{kind}.{f}"] = (p50(getattr(c, f) for c in rows), unit)
    for q in QUERIES:
        rows = [costs[str(s.id)] for s in spans if s.name == f"request.op.{q}"]
        for f, unit in COST_FIELDS.items():
            out[f"spark.op.{q}.{f}"] = (p50(getattr(c, f) for c in rows), unit)
    batch_rows = per_kind.get("batch", [])
    n = max(1, run.events_applied)
    out["spark.task_cpu_s_per_event"] = (sum(c.task_cpu_s for c in batch_rows) / n, "s")
    out["spark.shuffle_write_bytes_per_event"] = (
        sum(c.shuffle_write_bytes for c in batch_rows) / n, "B",
    )
    return out
