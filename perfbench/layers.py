"""Per-layer metrics of a traced run.

Each timed pass is summarised from its spans (construction, sources,
detectors, persistence, per-op phases), the Spark event log (execution)
and ``StreamingQueryProgress`` (streaming); the reported value is the
median over passes. Layers a workload does not reach report 0.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys

from child import API_OP, CORPUS_QUERIES, FLEET_QUERIES, STREAM_OP
from tracing import exec_metrics, median_dict, read_event_log, self_times

# span name -> metric fed by its duration
SPAN_METRICS = {
    "detectors.fit": "detectors.fit_s",
    "detectors.plan": "detectors.plan_s",
    "persistence.save": "persistence.save_s",
    "persistence.load": "persistence.load_s",
    "sources.read_table": "sources.read_s",
}

LAYER_UNITS = {
    "construct.s": "s", "construct.py4j_calls": "count", "construct.eager_jobs": "count",
    "sources.read_s": "s", "sources.read_jobs": "count",
    "detectors.fit_s": "s", "detectors.plan_s": "s",
    "persistence.save_s": "s", "persistence.load_s": "s",
    "exec.s": "s", "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.one_task_stages": "count", "exec.one_task_stage_s": "s",
    "exec.task_run_s": "s", "exec.task_cpu_s": "s", "exec.gc_s": "s",
    "exec.shuffle_write_bytes": "bytes", "exec.spill_bytes": "bytes",
    "exec.output_bytes": "bytes",
    "streaming.add_batch_s": "s", "streaming.planning_s": "s", "streaming.commit_s": "s",
    "streaming.state_rows": "count", "streaming.state_bytes": "bytes",
    "streaming.state_update_s": "s", "streaming.state_commit_s": "s",
    "streaming.rows_emitted": "count", "streaming.rows_held": "count",
    "streaming.late_rows_dropped": "count",
    "proc.peak_rss_mb": "MB",
    "trace.pass_s": "s", "trace.op_self_s": "s",
}


def units(workload):
    """Metric -> unit for a traced run: every layer metric, plus per-op
    metrics for the ops of the workloads BENCHMARK.json lists (and, for a
    ``corpus_curate`` run, its own ops)."""
    ops = FLEET_QUERIES + [API_OP, STREAM_OP]
    if workload == "corpus_curate":
        ops += CORPUS_QUERIES
    per_op = {f"op.{o}.{k}": u for o in ops
              for k, u in (("construct_s", "s"), ("exec_s", "s"), ("jobs", "count"))}
    return {**LAYER_UNITS, **per_op}


def streaming_metrics(progress, counts):
    dur = lambda k: sum(b["durationMs"].get(k, 0) for b in progress) / 1000.0  # noqa: E731
    ops = [b["stateOperators"][0] for b in progress if b.get("stateOperators")]
    return {
        "streaming.add_batch_s": dur("addBatch"),
        "streaming.planning_s": dur("queryPlanning"),
        "streaming.commit_s": dur("walCommit") + dur("commitOffsets"),
        "streaming.state_rows": ops[-1]["numRowsTotal"] if ops else 0,
        "streaming.state_bytes": ops[-1]["memoryUsedBytes"] if ops else 0,
        "streaming.state_update_s": sum(o["allUpdatesTimeMs"] for o in ops) / 1000.0,
        "streaming.state_commit_s": sum(o["commitTimeMs"] for o in ops) / 1000.0,
        "streaming.rows_emitted": counts["rows_emitted"],
        "streaming.rows_held": counts["rows_held"],
        "streaming.late_rows_dropped": sum(o["numRowsDroppedByWatermark"] for o in ops),
    }


def _in_construct(spans, i):
    p = spans[i]["parent"]
    while p is not None:
        if spans[p]["name"].endswith(".construct"):
            return True
        p = spans[p]["parent"]
    return False


def pass_metrics(keys, spans, times, log, p, label, counts):
    row = dict.fromkeys(keys, 0)
    for i, s in enumerate(spans):
        if s["pass"] != label:
            continue
        name, dur = s["name"], s["end"] - s["start"]
        if name in SPAN_METRICS:
            row[SPAN_METRICS[name]] += dur
        if name == "sources.read_table":
            row["sources.read_jobs"] += s["jobs"]
        if s.get("jobs") and _in_construct(spans, i):
            row["construct.eager_jobs"] += s["jobs"]
        if not name.startswith("op."):
            continue
        op, _, phase = name[3:].partition(".")
        if phase == "construct":
            row["construct.s"] += dur
            row["construct.py4j_calls"] += s["py4j_calls"]
            row["construct.eager_jobs"] += s["jobs"]
            row[f"op.{op}.construct_s"] += dur
        elif phase == "exec":
            row["exec.s"] += dur
            row[f"op.{op}.exec_s"] += dur
        else:
            row[f"op.{op}.jobs"] += sum(
                1 for j in log["jobs"].values() if s["start"] <= j.get("submit", -1) <= s["end"]
            )
            row["trace.op_self_s"] += times[i][2]
    jobs = [k for k, j in log["jobs"].items() if p["start"] <= j.get("submit", -1) <= p["end"]]
    exec_s = row["exec.s"]
    row.update(exec_metrics(log, jobs))
    row["exec.s"] = exec_s
    if "progress" in p:
        row.update(streaming_metrics(p["progress"], counts))
    row["trace.pass_s"] = p["wall_s"]
    return row


def per_layer(workload, cfg, res, counts, traces_dir):
    """Median per-layer metrics over the timed passes; also copies the
    span file to ``traces_dir`` and checks the span arithmetic."""
    work = cfg["work_dir"]
    span_path = os.path.join(work, "spans.jsonl")
    with open(span_path) as f:
        spans = [json.loads(line) for line in f]
    times = self_times(spans)
    for i, (dur, cov, own) in times.items():
        if abs(cov + own - dur) > 1e-9:
            raise AssertionError(f"span {i}: children {cov} + self {own} != wall {dur}")
    log = read_event_log(os.path.join(work, "eventlog"))
    rows = [
        pass_metrics(units(workload), spans, times, log, p, f"p{i}", counts)
        for i, p in enumerate(res["passes"])
    ]
    os.makedirs(traces_dir, exist_ok=True)
    dest = os.path.join(traces_dir, f"{workload}-s{cfg['seed']}-{spans[0]['run_id']}.spans.jsonl")
    shutil.copyfile(span_path, dest)
    print(f"# spans: {dest} ({len(spans)} spans, {len(rows)} passes, "
          f"traced pass_s median {statistics.median(r['trace.pass_s'] for r in rows):.3f})",
          file=sys.stderr)
    return {**median_dict(rows), "proc.peak_rss_mb": res["peak_rss_mb"]}
