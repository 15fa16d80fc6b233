"""Benchmark harness: runs every registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints one
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Queries execute to a noop sink (full plan runs JVM-side, nothing is
collected to the driver) — the honest analogue of writing results out
on a cluster.

Session recycling: the registry is 220+ distinct codegen-heavy plans;
executing all of them (warmup pass + timed pass) in ONE JVM measurably
degrades whichever queries run late in rotation order even with a 2 GB
code cache that never fills (r8: doc_bigram_heavy_hitters 2.4s warm ->
6-23s after ~100 prior plans; ts_mllib_kmeans 2.9s -> 38s at session
end — profiled-nmethod churn / JIT state, not cache exhaustion).  A
production deployment never runs 450 distinct plans through one
driver JVM back-to-back — each job is its own application — so the
bench runs the registry in CHUNKS of $SPARK_GRAFT_SESSION_CHUNK
(default 64) queries, each chunk in a FRESH JVM (subprocess — a
stopped SparkContext reuses the old gateway JVM and keeps its JIT
state), with the chunk's own untimed warmup + sf0.001 compile pass.
Per-query numbers are then position-independent and reproducible.
"""

from __future__ import annotations

import gc
import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def session_conf(cpus: str) -> dict[str, str]:
    """The bench's settings, on top of ``build_session``'s local block.

    They differ from ``recommended_conf`` in five settings: the initial
    batch shuffle count (1x cores, not 3x), the scan split size (128m,
    not 256m), the serializer (Java, not Kryo), the broadcast threshold
    (Spark's 10m, not 64m) and ``nanosAsLong`` (unset; ``registry.table``
    sets it where a fixture needs it). Every BENCH record was measured
    under these; reconciling them takes a bench A/B of its own."""
    return {
        "spark.sql.shuffle.partitions": cpus,
        # scan split size: the 128m default matches Spark's and keeps
        # the driver's bench comparable; production-scale guidance is
        # LARGER splits (512m-1g, guide 6), so shrinking it to fit the
        # local fixture would be a local-only tuning (see
        # OPTIMIZATION_r15.md for the measured 32m A/B)
        "spark.sql.files.maxPartitionBytes": "128m",
        "spark.sql.adaptive.enabled": "true",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
    }


def noop_once(spark, fn, sf_dir: str) -> float:
    """Wall seconds of one run of query ``fn`` at ``sf_dir`` into a noop
    sink, followed by untimed inter-query hygiene: several operators
    cache small intermediates (LSH signatures, CC labels/checkpoints)
    that stay pinned after the query's action completes, and leaked
    blocks inflate late-running queries (measured r5)."""
    t0 = time.time()
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    elapsed = time.time() - t0
    spark.catalog.clearCache()
    gc.collect()
    return elapsed


def _warm_session(spark, sf_dir: str, warm_dir: str, chunk) -> list[str]:
    """Untimed per-session warmup: table footers, one composite
    shuffle/window plan, python-worker + Arrow init, the CC-loop and
    MLlib first-use costs, then a sf0.001 compile pass over THIS
    chunk's queries (JMH-style: Janino + HotSpot warm for every plan
    about to be timed, while the timed loop still reads sf0.1 cold —
    only code, not data, is warm)."""
    from pyspark.sql import functions as F
    from pyspark.sql import Window as _W

    from tsod_spark.pipeline import dedup as _dedup
    from tsod_spark.registry import table

    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        table(spark, sf_dir, t).limit(1).write.format("noop").mode(
            "overwrite"
        ).save()
    warm = (
        table(spark, sf_dir, "documents")
        .limit(64)
        .select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    warm.join(
        warm.select(F.col("w").alias("w2"), "c"), F.col("w") == F.col("w2")
    ).write.format("noop").mode("overwrite").save()
    table(spark, sf_dir, "events").limit(256).select(
        F.sum("value").over(_W.partitionBy("user_id").orderBy("ts")).alias("s")
    ).write.format("noop").mode("overwrite").save()
    table(spark, sf_dir, "documents").limit(32).select("doc_id").mapInPandas(
        lambda it: it, "doc_id long"
    ).write.format("noop").mode("overwrite").save()
    _dedup.minhash_duplicate_groups(
        table(spark, sf_dir, "documents").limit(64)
    ).write.format("noop").mode("overwrite").save()
    # MLlib warmup: estimator classloading + netlib BLAS/LAPACK probe +
    # KMeans/WLS codegen otherwise land on the first MLlib query
    from pyspark.ml.clustering import KMeans as _KM
    from pyspark.ml.functions import array_to_vector as _a2v
    from pyspark.ml.regression import LinearRegression as _LR

    _w = (
        table(spark, sf_dir, "embeddings")
        .limit(64)
        .select(
            _a2v(F.col("embedding").cast("array<double>")).alias("features"),
            F.lit(1.0).alias("y"),
        )
    )
    _KM(k=2, seed=1, maxIter=1, featuresCol="features").fit(_w)
    _LR(featuresCol="features", labelCol="y", solver="normal").fit(_w)
    spark.catalog.clearCache()

    warmup_skipped: list[str] = []
    if os.path.isdir(warm_dir):
        for _name, _fn in chunk:
            try:
                _fn(spark, warm_dir).write.format("noop").mode("overwrite").save()
            except Exception:
                # A fixture-shape miss must not sink the bench, but a
                # silently-skipped warmup puts that query's Janino/JIT
                # first-execution cost back into its timed measurement —
                # record it so partial warm coverage is visible.
                warmup_skipped.append(_name)
            spark.catalog.clearCache()
        gc.collect()
    return warmup_skipped


def run_slice() -> None:
    """Child mode: bench queries [i, j) of the rotation order in this
    fresh JVM and print one JSON line."""
    from tsod_spark.conf import build_session

    lo, hi = (int(x) for x in os.environ["SPARK_GRAFT_SLICE"].split(":"))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    warm_dir = os.environ.get("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")

    spark = build_session(
        "tsod_spark-bench", f"local[{cpus}]", conf=session_conf(cpus)
    )
    import __spark_entry__ as entrymod

    items = list(entrymod.queries().items())[lo:hi]

    # Cold-start honesty number (first slice only): one designated query
    # timed as the very first action of a cold driver — before any
    # warmup — so the record shows what a cold session actually pays.
    cold_name = os.environ.get("SPARK_GRAFT_COLD_QUERY", "tpch_q1")
    cold_first_query_s = None
    if lo == 0:
        cold_fn = entrymod.queries().get(cold_name)
        if cold_fn is not None:
            t0 = time.time()
            cold_fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            cold_first_query_s = round(time.time() - t0, 3)
            spark.catalog.clearCache()

    warmup_skipped = _warm_session(spark, sf_dir, warm_dir, items)

    # The CC/pair-heavy dedup family shows rare 2-6x single-run
    # excursions even on an idle box, so a single sample is not a
    # comparable record. Root-caused r9 with per-run jstat/jcmd/PSI
    # instrumentation across ~70 isolated runs:
    #  (a) a STOCHASTIC JIT compile race — the sf0.001 warmup pass
    #      profiles the generated join/agg loops on tiny data; the
    #      first sf0.1 runs deopt and re-profile, and if the C2
    #      recompile (observed: ~3k late compiles, ~10s compile CPU)
    #      lands after run 0, runs 1-3 execute tier-3 code at 2-4x
    #      before converging (dedup_threshold_curve: one session
    #      8.9/19.7/15.5/8.2/4.8/4.4/4.1/4.1s, three flat sessions
    #      steady at 4.1-4.8s — NOT monotonic, NOT a leak: class
    #      histogram clean, 0 full GCs, and jaccard_pairs_index holds
    #      no internal cache);
    #  (b) rare non-JIT scheduler/GC jitter in the many-small-jobs CC
    #      queries (dedup_simhash_groups: one 12.8s excursion in 34
    #      isolated runs, compile-quiet, no PSI io/cpu stall).
    # Mitigation: UNTIMED converged-warm absorber runs at sf0.1 (soak
    # the deopt/recompile cycle at the measured scale) + median-of-3
    # with the spread reported (soaks the residual jitter); everything
    # else runs once.
    cc_family = frozenset(
        os.environ.get(
            "SPARK_GRAFT_MEDIAN3",
            "dedup_canonical dedup_rate_by_source dedup_simhash_pairs "
            "dedup_simhash_groups dedup_minhash_groups doc_repetition "
            "dedup_minhash_pairs emb_ivfpq_topk emb_pq_topk doc_vocab_overlap "
            "dedup_minhash_pairs_capped dedup_simhash_pairs_capped "
            "dedup_winnow_overlap dedup_ppjoin_pairs dedup_ppjoin_groups "
            "dedup_containment_pairs dedup_threshold_curve dedup_jaccard_topk "
            "doc_bigram_heavy_hitters events_theta_sets "
            # r10 (VERDICT r9 #1): bigram ppjoin joined the family — a
            # single sample of the registry's former most-expensive
            # query is not a stable record; the containment screen
            # shares the gram-join shape
            "dedup_ppjoin_bigram_pairs dedup_ppjoin_incremental "
            "dedup_containment_incremental "
            # r11: the sampled curve shares the pair-pass shape; the
            # PQ curve is 4 MLlib KMeans fits (iterative, GC-prone)
            "dedup_threshold_curve_sampled emb_pq_distortion_curve "
            # r12: the fused governance rollup subsumes the CC family
            "dedup_governance_pipeline "
            # r13: the ingest-tick increments share the band-join
            # shape; the residual topk refits KMeans per call like
            # emb_ivfpq_topk
            "dedup_governance_increments emb_ivfpq_residual_topk",
        ).split()
    )

    timings: dict[str, float] = {}
    median3: dict[str, dict] = {}
    for name, fn in items:
        if name in cc_family:
            converged_warm(lambda: noop_once(spark, fn, sf_dir))
            runs = [round(noop_once(spark, fn, sf_dir), 3) for _ in range(3)]
            timings[name] = sorted(runs)[1]
            median3[name] = {
                "runs": runs,
                "spread": round(max(runs) - min(runs), 3),
            }
        else:
            timings[name] = round(noop_once(spark, fn, sf_dir), 3)
    print(
        json.dumps(
            {
                "timings": timings,
                "median3": median3,
                "warmup_skipped": warmup_skipped,
                "cold_first_query_s": cold_first_query_s,
            }
        )
    )
    spark.stop()


def converged_warm(once) -> None:
    """The converged-warm absorber protocol (shared by run_slice,
    run_retime, scripts/time_one.py, scripts/stage_profile.py,
    scripts/decade_probe.py through steady_median3, and perfbench's
    child — ONE implementation so the timing discipline the SCALE/BENCH
    records claim to share cannot silently diverge): run ``once()``
    untimed up to 3 times, stopping
    as soon as the sequence is non-increasing AND within 1.3x of the
    fastest seen. One absorber is measured insufficient for the deepest
    C2-recompile humps (r9: threshold_curve timed [31.0, 13.8, 5.1]
    AFTER a single absorber); flat queries exit after 2."""
    prev = once()
    best = prev
    for _ in range(2):
        nxt = once()
        best = min(best, nxt)
        if nxt <= prev and nxt <= 1.3 * best:
            break
        prev = nxt


def steady_median3(once, spread_frac: float = 0.2, max_runs: int = 9):
    """Steady-state median-of-3 (the decade probe's timing loop): after the
    converged-warm absorbers, keep timing until the LAST 3 consecutive
    runs have spread <= ``spread_frac`` of their median (the SCALE-row
    hygiene bar), up to ``max_runs``. Returns (median, spread,
    all_runs) for the qualifying window — or, if no window qualifies,
    for the tightest consecutive triple — with EVERY run kept in
    ``all_runs`` so the record hides nothing. This is JMH-style
    steady-state detection: the C2-recompile mode on the heaviest sf10
    queries can span more runs than a fixed median-of-3 absorbs
    (measured r12: dedup_threshold_curve spreads 31-34% of median
    across two fixed-protocol sessions, humps always in the EARLY
    runs)."""
    converged_warm(once)
    runs = [round(once(), 2) for _ in range(3)]
    while True:
        w = sorted(runs[-3:])
        if w[1] <= 0 or (w[2] - w[0]) <= spread_frac * w[1]:
            return w[1], round(w[2] - w[0], 2), runs
        if len(runs) >= max_runs:
            break
        runs.append(round(once(), 2))
    i0 = min(
        range(len(runs) - 2),
        key=lambda i: sorted(runs[i : i + 3])[2] - sorted(runs[i : i + 3])[0],
    )
    w = sorted(runs[i0 : i0 + 3])
    return w[1], round(w[2] - w[0], 2), runs


def run_retime() -> None:
    """Child mode: isolated adjudication re-time of named queries in a
    fresh JVM (VERDICT r10 #4). Discipline = the adjudication protocol
    VERDICT r9/r10 ran by hand: sf0.001 compile pass, converged-warm
    absorbers at the target sf, then median-of-3; prints one JSON line
    {name: {"runs": [...], "median": s}}."""
    from tsod_spark.conf import build_session

    names = os.environ["SPARK_GRAFT_RETIME"].split(",")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    warm_dir = os.environ.get("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")

    spark = build_session(
        "tsod_spark-bench", f"local[{cpus}]", conf=session_conf(cpus)
    )
    import __spark_entry__ as entrymod

    qs = entrymod.queries()

    out: dict[str, dict] = {}
    for name in names:
        fn = qs[name]
        if os.path.isdir(warm_dir):
            try:
                fn(spark, warm_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
            except Exception:
                pass
            spark.catalog.clearCache()
        converged_warm(lambda: noop_once(spark, fn, sf_dir))
        runs = [round(noop_once(spark, fn, sf_dir), 3) for _ in range(3)]
        out[name] = {"runs": runs, "median": sorted(runs)[1]}
    print(json.dumps(out))
    spark.stop()


def _flag_excursions(
    timings: dict[str, float],
    prior: dict[str, float],
    factor: float = 2.5,
    floor: float = 1.0,
) -> list[str]:
    """Names timed > ``factor`` x their prior committed value (and
    above ``floor`` seconds — sub-second 2.5x swings are scheduler
    noise, and re-timing ~100 of them would outlast the bench)."""
    return [
        name
        for name, t in timings.items()
        if name in prior and t > floor and t > factor * prior[name]
    ]


def _flag_tight_drift(
    median3: dict[str, dict],
    timings: dict[str, float],
    prior: dict[str, float],
    factor: float = 1.4,
    spread_frac: float = 0.3,
    floor: float = 1.0,
) -> list[str]:
    """VERDICT r12 #4 — the 1.3x-2.5x adjudication blind spot: a
    median-of-3 that lands >``factor`` x its prior committed value with
    a TIGHT in-session spread (< ``spread_frac`` of the median) is not
    single-run noise — it's either session pricing or a real plan
    regression, and only an isolated fresh-JVM re-time can tell
    (r12's dedup_threshold_curve 5.0 -> 7.04s median3 [7.04, 7.88,
    6.99] was exactly this signature and the old triggers missed it).
    Loose-spread medians stay with the median3_spread trigger; only
    median3-family queries have an in-session spread to test.

    factor 1.4 (r14, was 1.5): r13's ts_hw_anomaly sat at 1.49x with a
    tight spread — one tick under the old trigger, exactly the
    boundary case the adjudicator exists for (VERDICT r13). The floor
    keeps sub-second queries out, so the extra sensitivity costs at
    most a handful of isolated retimes per round."""
    return [
        name
        for name, m in median3.items()
        if name in prior
        and timings[name] > floor
        and timings[name] > factor * prior[name]
        and m["spread"] < spread_frac * timings[name]
    ]


def _cpu_stat() -> tuple[int, ...]:
    """Aggregate jiffy counters from /proc/stat's first line
    (user nice system idle iowait irq softirq steal ...)."""
    try:
        with open("/proc/stat") as fh:
            parts = fh.readline().split()[1:]
        return tuple(int(x) for x in parts[:8])
    except (OSError, ValueError, IndexError):
        return ()


def _box_health(before: tuple[int, ...], after: tuple[int, ...]) -> dict:
    """Host-condition deltas for one bench slice (VERDICT r14 #8: three
    rounds of verdicts litigated intermittent host steal by hand — the
    record itself should say whether the window was calm). steal_pct >
    a few percent or sys_pct > ~30 marks a throttle wave; adjudications
    from such a window are machine-checkable against this field."""
    if len(before) < 8 or len(after) < 8:
        return {}
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta)
    if total <= 0:
        return {}
    pct = lambda i: round(100.0 * delta[i] / total, 1)  # noqa: E731
    return {
        "user_pct": pct(0),
        "sys_pct": pct(2),
        "idle_pct": pct(3),
        "iowait_pct": pct(4),
        "steal_pct": pct(7),
    }


def _prior_snapshot() -> dict[str, float]:
    """Prior-round committed per-query seconds for excursion detection:
    $SPARK_GRAFT_PRIOR_BENCH if set, else the highest-numbered
    BENCH_local_r*.json beside this file. Empty dict if none."""
    import glob
    import re

    path = os.environ.get("SPARK_GRAFT_PRIOR_BENCH")
    if not path:
        here = os.path.dirname(os.path.abspath(__file__))
        cands = [
            p
            for p in glob.glob(os.path.join(here, "BENCH_local_r*.json"))
            if re.search(r"_r(\d+)\.json$", p)
        ]
        num = lambda p: int(re.search(r"_r(\d+)\.json$", p).group(1))  # noqa: E731
        path = max(cands, key=num) if cands else None
    if not path or not os.path.isfile(path):
        return {}
    try:
        with open(path) as fh:
            return dict(json.load(fh).get("queries", {}))
    except (OSError, ValueError):
        return {}


def main():
    if os.environ.get("SPARK_GRAFT_SLICE"):
        run_slice()
        return
    if os.environ.get("SPARK_GRAFT_RETIME"):
        run_retime()
        return

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    chunk = int(os.environ.get("SPARK_GRAFT_SESSION_CHUNK", "64"))
    import __spark_entry__ as entrymod

    names = list(entrymod.queries())
    n = len(names)

    timings: dict[str, float] = {}
    median3: dict[str, dict] = {}
    warmup_skipped: list[str] = []
    cold_first_query_s = None
    box_health: dict[str, dict] = {}
    for lo in range(0, n, chunk):
        hi = min(lo + chunk, n)
        env = dict(os.environ, SPARK_GRAFT_SLICE=f"{lo}:{hi}")
        stat0 = _cpu_stat()
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__)],
            env=env,
            capture_output=True,
            text=True,
        )
        box_health[f"{lo}:{hi}"] = _box_health(stat0, _cpu_stat())
        if proc.returncode != 0:
            print(proc.stderr[-4000:], file=sys.stderr)
            raise SystemExit(f"slice {lo}:{hi} failed rc={proc.returncode}")
        part = json.loads(proc.stdout.strip().splitlines()[-1])
        timings.update(part["timings"])
        median3.update(part["median3"])
        warmup_skipped.extend(part["warmup_skipped"])
        if part.get("cold_first_query_s") is not None:
            cold_first_query_s = part["cold_first_query_s"]
    if warmup_skipped:
        print(f"warmup skipped: {warmup_skipped}", file=sys.stderr)

    # Self-adjudication (VERDICT r10 #4): any query timed >2.5x its
    # prior-round committed value is re-timed isolated (fresh JVM,
    # absorber-first, median-of-3) before the snapshot is written, so
    # the committed number a future reader greps is the converged one.
    # Both the excursion and the re-time live in "adjudications"; the
    # headline timing becomes the re-timed median. Floor 1.0s: the
    # sub-second tier's 2.5x swings are scheduler noise, not plan
    # regressions, and re-timing ~100 of them would take longer than
    # the bench itself.
    adjudications: dict[str, dict] = {}
    prior = _prior_snapshot()
    flagged = _flag_excursions(timings, prior)
    # VERDICT r11 #4: spread-triggered adjudication — a median3 family
    # whose in-session spread exceeds 50% of its median (above the same
    # 1s floor) hasn't converged; its median is not yet a comparable
    # record, so re-time it isolated too. The trigger is recorded so a
    # reader can tell the two adjudication causes apart.
    spread_flagged = [
        name
        for name, m in median3.items()
        if name not in flagged
        and timings[name] > 1.0
        and m["spread"] > 0.5 * timings[name]
    ]
    # VERDICT r12 #4: the tight-median drift trigger closes the
    # 1.5x-2.5x blind spot between the two triggers above.
    tight_flagged = [
        name
        for name in _flag_tight_drift(median3, timings, prior)
        if name not in flagged and name not in spread_flagged
    ]
    triggers = {name: "excursion_vs_prior" for name in flagged}
    triggers.update({name: "median3_spread" for name in spread_flagged})
    triggers.update({name: "tight_median_vs_prior" for name in tight_flagged})
    flagged = flagged + spread_flagged + tight_flagged
    if flagged:
        env = dict(os.environ, SPARK_GRAFT_RETIME=",".join(flagged))
        stat0 = _cpu_stat()
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__)],
            env=env,
            capture_output=True,
            text=True,
        )
        box_health["adjudication_retime"] = _box_health(stat0, _cpu_stat())
        retimed = None
        if proc.returncode == 0:
            # The child can exit 0 yet print trailing non-JSON (fresh-JVM
            # Ivy/log4j noise); a parse failure must not lose the whole
            # snapshot — fall back to the excursions-kept-as-is path.
            try:
                retimed = json.loads(proc.stdout.strip().splitlines()[-1])
            except (ValueError, IndexError):
                retimed = None
        if retimed is not None:
            for name, r in retimed.items():
                adjudications[name] = {
                    "trigger": triggers.get(name, "excursion_vs_prior"),
                    "excursion": timings[name],
                    "prior": prior.get(name),
                    "in_session_median3": median3.get(name),
                    "retimed_runs": r["runs"],
                    "retimed_median": r["median"],
                }
                timings[name] = r["median"]
                if name in median3:
                    median3[name] = {
                        "runs": r["runs"],
                        "spread": round(max(r["runs"]) - min(r["runs"]), 3),
                        "adjudicated": True,
                    }
        else:
            print(proc.stderr[-2000:], file=sys.stderr)
            print(
                f"adjudication retime failed rc={proc.returncode}; "
                f"excursions kept as-is: {flagged}",
                file=sys.stderr,
            )

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    payload = json.dumps(
        {
            "metric": "total_query_wall_seconds",
            "value": round(sum(timings.values()), 3),
            "unit": "sec",
            "queries": timings,
            "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            "cold_first_query": os.environ.get(
                "SPARK_GRAFT_COLD_QUERY", "tpch_q1"
            ),
            "cold_first_query_s": cold_first_query_s,
            "session_chunk": chunk,
            "median3": median3,
            "adjudications": adjudications,
            "warmup_skipped": warmup_skipped,
            "box_health": box_health,
        }
    )
    print(payload)
    # Self-preserving record: the driver captures only a tail of stdout,
    # which truncated 78 of 152 per-query timings out of BENCH_r04.json.
    # Writing the full JSON beside the repo makes the record independent
    # of any output-capture window.
    out_path = os.environ.get(
        "SPARK_GRAFT_BENCH_OUT",
        os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "BENCH_local.json"
        ),
    )
    try:
        with open(out_path, "w") as fh:
            fh.write(payload + "\n")
    except OSError:
        pass  # stdout line above remains the primary record
    spark = None  # orchestrator never opened a session


if __name__ == "__main__":
    main()
