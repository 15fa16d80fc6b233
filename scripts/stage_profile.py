"""Per-stage task metrics for one registered query (guide §1/§7.1).

Runs a query with the event log enabled (one compile pass at sf0.001,
converged-warm absorbers, then ONE timed noop-sink run) and prints each
stage of that run: task count, wall duration, summed executor run time,
shuffle read/write bytes, and the first line of the stage's call-site —
the "which stage is slow, and is it 1-task" readout the Spark UI would
give, reproduced from the event log because the sandbox has no UI.

Usage: python scripts/stage_profile.py <query_name> [sf_dir]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    name = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    evdir = tempfile.mkdtemp(prefix="spark-events-")
    os.environ["SPARK_GRAFT_EVENTLOG_DIR"] = evdir

    import bench
    from tsod_spark import registry
    from tsod_spark.conf import build_session

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = build_session(
        "stage-profile",
        f"local[{cpus}]",
        conf={
            "spark.sql.shuffle.partitions": cpus,
            "spark.sql.adaptive.enabled": "true",
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": evdir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"),
        },
    )
    q = registry.QUERIES[name]

    def _noop(df):
        df.write.format("noop").mode("overwrite").save()

    _noop(q(spark, "/root/testdata/sf0.001"))
    spark.catalog.clearCache()

    def _once() -> float:
        t0 = time.monotonic()
        _noop(q(spark, sf_dir))
        el = time.monotonic() - t0
        spark.catalog.clearCache()
        return el

    bench.converged_warm(_once)

    # timed run, bracketed by job-group markers in the event log
    sc = spark.sparkContext
    sc.setJobDescription(f"PROFILED:{name}")
    t0 = time.monotonic()
    _noop(q(spark, sf_dir))
    wall = time.monotonic() - t0
    sc.setJobDescription(None)
    spark.catalog.clearCache()
    app_id = sc.applicationId
    spark.stop()

    # parse: keep only stages whose submission follows the profiled
    # marker (job with our description), i.e. the last timed run
    path = os.path.join(evdir, app_id)
    if not os.path.isfile(path):
        # Spark 4 rolling layout: eventlog_v2_<appId>/events_*_<appId>
        d = os.path.join(evdir, f"eventlog_v2_{app_id}")
        cands = [
            os.path.join(d, f)
            for f in sorted(os.listdir(d))
            if f.startswith("events_")
        ]
        path = cands[0]
    jobs_in_window: set[int] = set()
    stage_to_job: dict[int, int] = {}
    stages: list[dict] = []
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            et = ev.get("Event")
            if et == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                if props.get("spark.job.description", "").startswith("PROFILED:"):
                    jobs_in_window.add(ev["Job ID"])
                    for s in ev.get("Stage Infos", []):
                        stage_to_job[s["Stage ID"]] = ev["Job ID"]
            elif et == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                if stage_to_job.get(si["Stage ID"]) in jobs_in_window:
                    sub = si.get("Submission Time")
                    comp = si.get("Completion Time")
    # first non-Spark-internal frame of the callsite —
                    # the user-code line that created the stage's RDD;
                    # SQL/AQE stages have JVM-only callsites, so fall
                    # back to the stage's RDD operator-scope chain
                    det = ""
                    for ln in (si.get("Details") or "").splitlines():
                        ln = ln.strip()
                        if "/tsod_spark/" in ln or "/scripts/" in ln or ln.endswith(".py)"):
                            det = ln
                            break
                    if not det:
                        scopes = []
                        for rdd in si.get("RDD Info", []):
                            sc_json = rdd.get("Scope")
                            if sc_json:
                                try:
                                    nm = json.loads(sc_json).get("name", "")
                                except (ValueError, TypeError):
                                    nm = ""
                                if nm and (not scopes or scopes[-1] != nm):
                                    scopes.append(nm)
                        det = " < ".join(scopes[:6])
                    stages.append(
                        {
                            "stage": si["Stage ID"],
                            "job": stage_to_job[si["Stage ID"]],
                            "tasks": si.get("Number of Tasks"),
                            "wall_s": round((comp - sub) / 1000.0, 3)
                            if sub and comp
                            else None,
                            "name": (det or si.get("Stage Name", ""))[:110],
                        }
                    )
    stages.sort(key=lambda s: -(s["wall_s"] or 0))
    print(f"{name}: timed run {wall:.3f}s, {len(stages)} stages in profiled window")
    print(f"{'stage':>5} {'job':>4} {'tasks':>5} {'wall_s':>7}  name")
    for s in stages:
        print(
            f"{s['stage']:>5} {s['job']:>4} {s['tasks']:>5} "
            f"{(s['wall_s'] if s['wall_s'] is not None else -1):>7}  {s['name']}"
        )
    shutil.rmtree(evdir, ignore_errors=True)


if __name__ == "__main__":
    main()
