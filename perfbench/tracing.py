"""Traced-run instrumentation, installed from the benchmark only.

A :class:`Tracer` keeps spans (name, start, end, parent, run id) in
memory and writes them out at the end. It also counts py4j round-trips
through the gateway client, tags every Spark job with a job group per
op phase (read back through ``statusTracker``), wraps
``queries._base.read_table`` (the ``sources`` layer), samples the
process tree's RSS from ``/proc``, and parses the Spark event
log for execution metrics. The untraced run uses :class:`NullTracer`,
whose hooks do nothing.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import threading
import time
import uuid


class NullTracer:
    @contextlib.contextmanager
    def span(self, name, group=None):
        yield

    def install(self, spark):
        pass

    def start_pass(self, label):
        pass

    def finish(self, span_path):
        return 0.0


class Tracer:
    def __init__(self):
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.py4j_calls = 0
        self._quiet = False
        self.sc = None
        self.label = "setup"
        self.reads = 0
        self.rss = RssSampler()

    # -- spans ------------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name, group=None):
        """Record a span; with ``group``, Spark jobs started inside it get
        that job group (the enclosing group is restored on exit). The
        tracer's own py4j calls are not counted."""
        rec = {
            "name": name,
            "pass": self.label,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.time(),
        }
        if group is not None:
            self._quiet = True
            prev = self.sc.getLocalProperty("spark.jobGroup.id")
            group = f"{self.run_id}|{self.label}|{group}"
            self.sc.setLocalProperty("spark.jobGroup.id", group)
            self._quiet = False
            rec["group"] = group
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        py4j_start = self.py4j_calls
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()
            rec["py4j_calls"] = self.py4j_calls - py4j_start
            if group is not None:
                self._quiet = True
                self.sc.setLocalProperty("spark.jobGroup.id", prev)
                rec["jobs"] = len(self.sc.statusTracker().getJobIdsForGroup(group))
                self._quiet = False

    def start_pass(self, label):
        self.label = label

    # -- hooks ------------------------------------------------------------
    def install(self, spark):
        """Count py4j commands and wrap the ``sources`` layer."""
        from tsod_spark.queries import _base

        self.rss.start()
        self.sc = spark.sparkContext
        client = self.sc._gateway._gateway_client
        send = client.send_command

        def counted(*args, **kwargs):
            if not self._quiet:
                self.py4j_calls += 1
            return send(*args, **kwargs)

        client.send_command = counted
        read_table = _base.read_table

        def traced_read_table(*args, **kwargs):
            self.reads += 1
            with self.span("sources.read_table", group=f"read{self.reads}"):
                return read_table(*args, **kwargs)

        _base.read_table = traced_read_table

    def finish(self, span_path):
        """Write the spans; returns the process tree's peak RSS in MB."""
        with open(span_path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({"id": i, **s}) + "\n")
        self.rss.stop()
        return self.rss.peak


# ---------------------------------------------------------------------------
# process-tree accounting from /proc


def _tree(root):
    """Pids of ``root`` and all its descendants."""
    children: dict[int, list[int]] = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(p))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s():
    """User+sys CPU seconds of the tree, including reaped children."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in _tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / tick


def tree_rss_mb():
    total = 0
    for pid in _tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1])
        except OSError:
            continue
    return total * os.sysconf("SC_PAGE_SIZE") / 2**20


class RssSampler(threading.Thread):
    def __init__(self, period=0.5):
        super().__init__(daemon=True)
        self.period, self.peak = period, 0.0
        self._halt = threading.Event()

    def run(self):
        while not self._halt.is_set():
            self.peak = max(self.peak, tree_rss_mb())
            self._halt.wait(self.period)

    def stop(self):
        self._halt.set()
        self.join()
        self.peak = max(self.peak, tree_rss_mb())


# ---------------------------------------------------------------------------
# span arithmetic


def covered(intervals):
    """Length of the union of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Per span id: (duration, child-covered time, self time). Self time
    is the duration minus the part of it the child spans cover, so
    child-covered + self == duration by construction."""
    kids: dict[int, list] = {}
    for i, s in enumerate(spans):
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for i, s in enumerate(spans):
        dur = s["end"] - s["start"]
        clipped = [
            (max(a, s["start"]), min(b, s["end"])) for a, b in kids.get(i, [])
        ]
        cov = covered([c for c in clipped if c[1] > c[0]])
        out[i] = (dur, cov, dur - cov)
    return out


# ---------------------------------------------------------------------------
# event log


def read_event_log(log_dir):
    """Jobs, stages and task metrics from the Spark event log(s) in
    ``log_dir``: ``{"jobs": {id: {...}}, "stages": {id: {...}}}``."""
    jobs, stages = {}, {}
    for path in glob.glob(os.path.join(log_dir, "*")):  # skips .crc files
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = {
                        "group": (ev.get("Properties") or {}).get("spark.jobGroup.id"),
                        "submit": ev["Submission Time"] / 1000.0,
                        "stages": ev["Stage IDs"],
                    }
                elif kind == "SparkListenerJobEnd":
                    jobs.setdefault(ev["Job ID"], {})["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    st = stages.setdefault(info["Stage ID"], _new_stage())
                    st["tasks"] = info["Number of Tasks"]
                    st["s"] = (info["Completion Time"] - info["Submission Time"]) / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    st = stages.setdefault(ev["Stage ID"], _new_stage())
                    m = ev.get("Task Metrics") or {}
                    st["run_s"] += m.get("Executor Run Time", 0) / 1000.0
                    st["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    st["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    st["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    st["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    st["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    return {"jobs": jobs, "stages": stages}


def _new_stage():
    return {
        "tasks": 0, "s": 0.0, "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
        "shuffle_write_bytes": 0, "spill_bytes": 0, "output_bytes": 0,
    }


def exec_metrics(log, job_ids):
    """Execution totals over the completed stages of ``job_ids``."""
    out = {
        "exec.jobs": len(job_ids), "exec.stages": 0, "exec.tasks": 0,
        "exec.one_task_stages": 0, "exec.one_task_stage_s": 0.0,
        "exec.task_run_s": 0.0, "exec.task_cpu_s": 0.0, "exec.gc_s": 0.0,
        "exec.shuffle_write_bytes": 0, "exec.spill_bytes": 0, "exec.output_bytes": 0,
    }
    seen = set()
    for j in job_ids:
        for sid in log["jobs"].get(j, {}).get("stages", []):
            st = log["stages"].get(sid)
            if st is None or sid in seen or not st["tasks"]:
                continue  # skipped stage (its shuffle output was reused)
            seen.add(sid)
            out["exec.stages"] += 1
            out["exec.tasks"] += st["tasks"]
            if st["tasks"] == 1:
                out["exec.one_task_stages"] += 1
                out["exec.one_task_stage_s"] += st["s"]
            out["exec.task_run_s"] += st["run_s"]
            out["exec.task_cpu_s"] += st["cpu_s"]
            out["exec.gc_s"] += st["gc_s"]
            for k in ("shuffle_write_bytes", "spill_bytes", "output_bytes"):
                out[f"exec.{k}"] += st[k]
    return out


def median_dict(rows):
    """Key-wise median of a list of metric dicts."""
    keys = rows[0].keys()
    return {k: statistics.median(r[k] for r in rows) for k in keys}
