"""Benchmark entry point.

    python3 perfbench/run.py --workload fleet_detect --seed 1 --seconds 15 --trace 0

Generates the workload's inputs from ``--seed`` (cached under
``.perfbench/cache``), runs the workload in a fresh child process
(``child.py``), checks every output against the DuckDB oracle, and
prints one JSON line as the last line of stdout:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` they are the
per-layer ones and the span file is written under ``.perfbench/traces``.
See ``perfbench/NOTES.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
STATE = REPO / ".perfbench"
CHILD_TIMEOUT_S = 150

# named traffic dimensions per workload; override with --param k=v
WORKLOADS = {
    "fleet_detect": {
        "table": "events",
        "params": {"series": 200, "rows": 200, "spike": 0.005, "nan": 0.01, "flat": 0.02},
    },
    "corpus_curate": {
        "table": "documents",
        "params": {"docs": 800, "exact_dup": 0.05, "near_dup": 0.05, "zipf": 1.1, "leak": 0.05},
    },
    "stream_monitor": {
        "table": "events",
        "params": {
            "series": 100, "files": 2, "rows_per_file": 2000,
            "spike": 0.005, "nan": 0.01, "flat": 0.02,
        },
    },
}

END_TO_END = {
    "setup_s": "s", "pass_s": "s", "rows_per_s": "1/s", "cpu_s": "s", "ok_frac": "ratio",
    "batch_p50_s": "s",
}


def _require_repo():
    """Exit non-zero at once when the engine is not next to the benchmark."""
    needed = ["tsod_spark/__init__.py", "__spark_entry__.py", "bench.py", "scripts/parity_check.py"]
    missing = [p for p in needed if not (REPO / p).is_file()]
    if missing:
        sys.exit(f"perfbench: not a tsod_spark checkout (missing {', '.join(missing)})")
    sys.path[:0] = [str(REPO), str(REPO / "scripts")]


def generate(workload, seed, params):
    import gen

    root = str(STATE / "cache")
    if workload == "fleet_detect":
        return gen.write_events(root, seed, **params)
    if workload == "corpus_curate":
        return gen.write_documents(root, seed, **params)
    return gen.write_stream(root, seed, **params)


def _wait_group_gone(pgid, timeout=10.0):
    """Wait until the killed group's last process (the JVM is a
    grandchild, reaped by init) has ended."""
    end = time.monotonic() + timeout
    while time.monotonic() < end:
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)


def run_child(cfg):
    """Run ``child.py`` in its own process group; returns its result dict."""
    env = dict(os.environ)
    env["TMPDIR"] = os.path.join(cfg["work_dir"], "tmp")
    env["SPARK_LOCAL_DIRS"] = os.path.join(cfg["work_dir"], "spark-local")
    # the launcher JVM that spark-submit runs first keeps out of /tmp too
    env["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={env['TMPDIR']}"
    env.setdefault("PYTHONWARNINGS", "ignore::FutureWarning")
    os.makedirs(env["TMPDIR"], exist_ok=True)
    cfg["t_spawn"] = time.time()
    proc = subprocess.Popen(
        [sys.executable, str(HERE / "child.py"), json.dumps(cfg)],
        stdout=subprocess.PIPE, env=env, cwd=str(REPO), start_new_session=True, text=True,
    )
    try:
        out, _ = proc.communicate(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        out = None
    finally:
        try:  # the JVM and Python workers share the child's process group
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        _wait_group_gone(proc.pid)
    if out is None:
        sys.exit(f"perfbench: {cfg['workload']} did not finish within {CHILD_TIMEOUT_S}s")
    lines = out.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.exit(f"perfbench: {cfg['workload']} child exited with {proc.returncode}")
    return json.loads(lines[-1])


def check(workload, in_dir, out_dir, params):
    """Compare the last pass's sinks with the oracle; returns (problems,
    stream row counts)."""
    import child
    from check import Gate

    gate = Gate(str(in_dir), WORKLOADS[workload]["table"])
    counts = {}
    if workload == "fleet_detect":
        for q in child.FLEET_QUERIES:
            gate.query(q, out_dir)
        gate.same(child.API_OP, os.path.join(out_dir, child.API_OP),
                  os.path.join(out_dir, child.API_OP + "_ref"), input_rows(workload, params))
    elif workload == "corpus_curate":
        for q in child.CORPUS_QUERIES:
            gate.query(q, out_dir)
    else:
        emitted, held = gate.stream(child.STREAM_OP, os.path.join(out_dir, child.STREAM_OP),
                                    params["series"])
        counts = {"rows_emitted": emitted, "rows_held": held}
    return gate.problems, counts


def input_rows(workload, params):
    if workload == "corpus_curate":
        return params["docs"]
    if workload == "fleet_detect":
        return params["series"] * params["rows"]
    per = params["rows_per_file"] // params["series"]
    return params["series"] * per * params["files"]


def batch_durations(workload, res):
    """Per-batch seconds: micro-batch ``triggerExecution`` for the stream,
    whole passes for the batch workloads (one pass is one batch)."""
    if workload != "stream_monitor":
        return [p["wall_s"] for p in res["passes"]]
    return [
        b["durationMs"]["triggerExecution"] / 1000.0
        for p in res["passes"] for b in p["progress"] if b["numInputRows"]
    ]


def end_to_end(workload, params, res):
    pass_s = statistics.median(p["wall_s"] for p in res["passes"])
    batches = batch_durations(workload, res)
    m = {
        "setup_s": res["setup_s"],
        "pass_s": pass_s,
        "rows_per_s": input_rows(workload, params) / pass_s,
        "cpu_s": statistics.median(p["cpu_s"] for p in res["passes"]),
        "ok_frac": (res["attempted"] - res["failed"]) / res["attempted"],
        "batch_p50_s": statistics.median(batches),
    }
    ops = {k: statistics.median(p["ops"][k] for p in res["passes"]) for k in res["passes"][0]["ops"]}
    print(
        f"# {workload}: {len(res['passes'])} timed passes, {len(batches)} batches, "
        f"{input_rows(workload, params)} input rows; pass seconds "
        + " ".join(f"{p['wall_s']:.2f}" for p in res["passes"])
        + "; batch seconds " + " ".join(f"{b:.2f}" for b in batches)
        + "; median op seconds "
        + " ".join(f"{k}={v:.2f}" for k, v in ops.items()),
        file=sys.stderr,
    )
    return m


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--param", action="append", default=[], metavar="K=V",
                    help="override a traffic dimension, e.g. --param docs=3000")
    args = ap.parse_args(argv)
    _require_repo()
    # turn a polite kill into SystemExit so run_child's cleanup runs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    params = dict(WORKLOADS[args.workload]["params"])
    for kv in args.param:
        k, v = kv.split("=", 1)
        if k not in params:
            sys.exit(f"perfbench: unknown parameter {k} for {args.workload}")
        params[k] = type(params[k])(v)

    in_dir = generate(args.workload, args.seed, params)
    work = STATE / "work" / f"{args.workload}-s{args.seed}-t{args.trace}"
    shutil.rmtree(work, ignore_errors=True)
    out_dir = work / "out"
    cfg = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "params": params,
        "nproc": len(os.sched_getaffinity(0)), "repo": str(REPO),
        "in_dir": str(in_dir), "out_dir": str(out_dir), "work_dir": str(work),
    }
    res = run_child(cfg)
    problems, counts = check(args.workload, in_dir, str(out_dir), params)
    for e in res["errors"]:
        print(f"# op failed: {e}", file=sys.stderr)
    for p in problems:
        print(f"# WRONG OUTPUT {p}", file=sys.stderr)

    if args.trace:
        import layers

        metrics = layers.per_layer(args.workload, cfg, res, counts, STATE / "traces")
        units = layers.units(args.workload)
    else:
        metrics = end_to_end(args.workload, params, res)
        units = END_TO_END
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": not problems and not res["failed"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))


if __name__ == "__main__":
    main()
