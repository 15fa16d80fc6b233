"""Decade probe: one measured decade of scale on materialized parquet.

``sf1`` expands the sf0.1 fixture (``$SPARK_GRAFT_SF_DIR``) 10x into
``.scaledata/sf1`` (the genuine TPC-H sf1 cardinalities: lineitem 6M,
orders 1.5M, events 1M, documents 50k, embeddings 20k); ``sf10``
expands that layer 10x again into ``.scaledata/sf10`` (lineitem 60M,
orders 15M, events 10M, documents 500k, embeddings 200k). Each decade
then times its headline registry queries at both of its ends against
real parquet scans: footer pruning, pushdown and I/O included. Two
consecutive decades per query (SCALE_sf1.json's sf0.1->sf1 plus
SCALE_sf10.json's sf1->sf10) show the growth CURVE, which a single
decade cannot: a hidden super-linear term that hides inside fixed
costs at sf1 must surface by sf10.

Expansion model = horizontal growth: every copy shifts its keys by a
stride (10x KEY COUNT, constant per-key cardinality/structure), and
document text is word-salted per copy (``c3foo`` at sf1, ``d3c3foo``
at sf10) so the duplicate / near-duplicate structure of the original
corpus is replicated per copy rather than turning every doc into a
10-way cross-copy clique. Embeddings get a tiny deterministic
first-component offset per copy for the same reason. Fixed dims
(nation, region) stay 1x, as in TPC-H itself.

Usage: python scripts/decade_probe.py sf1|sf10 [--rebuild] [query ...]
Writes SCALE_<decade>.json at the repo root: {"multiplier": 10,
"queries": {name: {<low end>: sec, <decade>: sec, "ratio": r,
"spread": {...}}}} (sf10 rows also keep every run). Query names probe
only those headline entries and MERGE into the existing file. A ratio
<= ~14x for 10x data on a fixed 32-core box means no hidden quadratic
/ single-partition collapse.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
from typing import NamedTuple

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SCALEDATA = os.path.join(REPO, ".scaledata")
MULT = 10

# per-table key strides (copy i adds i*stride; FK columns share the
# stride of the key they reference so referential integrity survives)
STRIDES: dict[str, dict[str, int]] = {
    "region": {},
    "nation": {},
    "customer": {"c_custkey": 100_000},
    "supplier": {"s_suppkey": 100_000},
    "part": {"p_partkey": 1_000_000},
    "orders": {"o_orderkey": 10_000_000, "o_custkey": 100_000},
    "lineitem": {
        "l_orderkey": 10_000_000,
        "l_partkey": 1_000_000,
        "l_suppkey": 100_000,
    },
    "events": {"event_id": 10_000_000, "user_id": 10_000},
    "documents": {"doc_id": 10_000_000},
    "embeddings": {"vec_id": 10_000_000},
}
FIXED_DIMS = {"region", "nation"}

HEADLINE = [
    "ts_combined",
    "ts_hampel",
    "ts_rolling_corr",
    "ts_resample_1h",
    "ts_seasonal_anomaly",
    "events_sessions",
    "tpch_q1",
    "tpch_q9",
    "tpch_q21",
    "dedup_minhash_groups",
    "dedup_incremental",
    "doc_curation_pipeline",
    "doc_stats",
    "emb_cosine_topk",
    # r5/r6 newcomers + the CC family (r6 VERDICT item 4)
    "ts_esd",
    "ts_shesd",
    "ts_ccf",
    "doc_rag_search",
    "dq_suite",
    "dedup_canonical",
    "dedup_simhash_pairs",
    "dedup_simhash_pairs_capped",
    # r6 newcomers (r6 VERDICT item 1: the only operators with no scale
    # evidence yet — winnow explodes ~2/(window+1) of all grams, so its
    # per-decade ratio is the number a 100 TB user needs) + r7's
    # truncation-observability aggregate
    "doc_winnow_fingerprints",
    "dedup_winnow_overlap",
    "emb_diverse_sample",
    "events_salted_join",
    "dedup_minhash_pairs_capped",
    "dedup_cap_drop_stats",
    "doc_winnow_screen",
    # late-r7 operators: sketch paths + changepoint localization
    "events_kll_quantiles",
    "events_hll_overlap",
    "ts_changepoint",
    "ts_changepoint_binseg",
    # round-7 closers: frequent-pattern + theta set algebra + rank
    # stats (heavy hitters re-scans the exploded bigrams twice by
    # design — the decade ratio shows what the two-pass costs)
    "doc_bigram_heavy_hitters",
    "events_theta_sets",
    "events_assoc_rules",
    "ts_spearman",
    "ts_runs_test",
    "events_ks_drift",
    "events_mannwhitney",
    "ts_theil_sen",
    "orders_rfm",
    "parts_abc",
    "customer_gini_by_nation",
    "events_benford",
    # round-7 closers, second wave: backtest/LTV + the per-series
    # moment screens (2-shuffle series-bounded frames — ratios should
    # track the scan) + the duration-grid KM and salted top-k Hill
    "ts_backtest_snaive",
    "orders_cohort_ltv",
    "ts_hour_anova",
    "events_markov",
    "ts_ols_fit",
    "events_interarrival",
    "ts_haar_energy",
    "events_dispersion",
    "events_type_entropy",
    "orders_km_survival",
    "orders_hill_tail",
    "ts_ar1",
    "parts_skyline",
    "doc_zipf_fit",
    "events_welch_ttest",
    "events_type_corr",
    "ts_record_stats",
    "doc_lexical_diversity",
    "dedup_threshold_curve",
    "orders_in_flight",
    "dedup_cross_source_matrix",
    "orders_contingency",
    "ts_holt_winters",
    "ts_hw_anomaly",
    "ts_peaks",
    "emb_label_silhouette",
    "orders_km_segment_summary",
    # round-8: prefix-filtered exact Jaccard (the decade ratio shows
    # whether the prefix join volume tracks near-dup mass, not corpus
    # size), its CC completion, the DB validity index, KM quartiles
    "dedup_ppjoin_pairs",
    "dedup_ppjoin_groups",
    "emb_label_davies_bouldin",
    "orders_km_quartiles",
    "dedup_containment_pairs",
    "ts_permutation_entropy",
    "ts_sax_motifs",
    "orders_nelson_aalen",
    "ts_conformal_snaive",
    "events_attribution_credit",
    "ts_periodogram",
    "supplier_ship_latency",
    # round-9: PPJoin observability/bigram/incremental tiers, the
    # per-segment KM quartiles, and the two curation curves
    "dedup_ppjoin_prefix_stats",
    "dedup_ppjoin_bigram_pairs",
    "dedup_ppjoin_incremental",
    "orders_km_quartiles_by_segment",
    "doc_pack_mixture_stats",
    "doc_quality_budget_curve",
    "ts_conformal_curve",
    "orders_nelson_aalen_by_segment",
    "orders_km_logrank",
    "events_psi_drift",
    # round-10: the incremental containment screen (corpus-index join
    # volume must track batch-gram corpus frequency, not corpus size),
    # the IVF tuning curve (5 probes over one cached cell-tagged
    # frame), per-segment conformal, the packing accountants, and the
    # exact W1 drift (domain-bounded ECDF frame)
    "dedup_containment_incremental",
    "emb_ivf_recall_curve",
    "ts_conformal_by_segment",
    "doc_pack_loss_mask",
    "doc_pack_bucketed_stats",
    "events_wasserstein_drift",
    "dedup_lsh_tuning_curve",
    "doc_contamination_by_split",
    # round-11: the PQ m-curve (nested-codebook fits at 4 m values),
    # sampled threshold twin (the knob-read's 100 TB variant — its
    # decade ratio vs the exact curve IS the value claim), by-segment
    # drift pair, the exact cross-source matrix (closed-form counts,
    # one hash shuffle) and directional containment (pair-bounded)
    "emb_pq_distortion_curve",
    "dedup_threshold_curve_sampled",
    "events_ks_drift_by_segment",
    "events_wasserstein_drift_by_segment",
    "dedup_exact_cross_source",
    "dedup_source_containment",
    "dedup_canonicalization_curve",
    # r13: persisted-index ANN serving (the warm absorber pays the
    # one-time build; timed runs measure the pruned serve path) and
    # the per-source governance increments
    "emb_ivfpq_persisted_topk",
    "emb_ivfpq_persisted_recall_curve",
    "dedup_governance_increments",
    # r13 second wave: residual-encoded IVF+PQ (KMeans-fit +
    # one-pass encode, like the flat build certificate)
    "emb_ivfpq_residual_topk",
    # r14: the cell-block certificate (exact regime at sf1, the
    # seeded SAMPLED regime at sf10 — 200k vectors crosses the 100k
    # exact boundary, so the sf10 row prices the regime the 100 TB
    # deployment actually runs), persisted residual serving,
    # multi-probe blocking, and image dHash near-dup dedup
    "dedup_embedding_cell_block_stats",
    "emb_ivfpq_residual_persisted_topk",
    "dedup_embedding_multiprobe_stats",
    "mm_phash_near_dups",
    # r14 second wave: the index-maintenance lifecycle (the warm
    # absorber pays the one-time build+append+delete; timed runs
    # price the tomb-filtered pruned serve)
    "emb_ivfpq_upsert_topk",
    "emb_ivfpq_upsert_stats",
    "mm_audio_near_dups",
    "mm_video_near_dups",
    "doc_hybrid_rrf_search",
    "emb_ivfpq_compact_stats",
    # r15: decade rows for the r14 events_profile rewrite (per-column
    # two-level agg replaced the 4-way Expand count_distinct — the §2
    # claim needs a scale row) and the newly spread doc tokenize legs
    "events_profile",
    "doc_tfidf_topk",
    "doc_decontaminate",
    # the asof / range / interval joins, q5, exact and signature dedup,
    # the OLAP rank, funnel and retention shapes, chunk dedup, mixture
    # sampling, the text filters and the keyed-window downsamplers
    "ts_asof_join",
    "tpch_q5",
    "dedup_exact",
    "dedup_minhash_sig",
    "top_parts_per_brand",
    "events_funnel",
    "events_retention",
    "doc_chunk_dedup",
    "dedup_jaccard_topk",
    "doc_mixture_sample",
    "events_range_join",
    "events_interval_overlap",
    "doc_lm_rarity",
    "events_value_drift",
    "doc_gopher_filter",
    "ts_lttb",
    "ts_time_weighted_avg",
    "ts_winsorize",
]

# the scale-critical subset: scan+agg, the biggest join, windowed
# sessionization, CC dedup, prefix-filtered exact dedup, the fused
# curation pipeline, the incremental screens, a drift monitor, and the
# two tuning curves
HEADLINE10 = [
    "tpch_q1",
    "tpch_q9",
    "events_sessions",
    "ts_resample_1h",
    "doc_token_counts",
    "doc_quality",
    "dedup_minhash_groups",
    "dedup_ppjoin_pairs",
    "dedup_containment_incremental",
    "doc_curation_pipeline",
    "events_psi_drift",
    "events_wasserstein_drift",
    "dedup_lsh_tuning_curve",
    "emb_cosine_topk",
    "doc_pack_loss_mask",
    # top-up: survival (duration-grid bounded), conformal
    # (bucket-bounded), the IVF curve (KMeans fit at 200k vectors),
    # packing comparison, simhash CC, winnow spans
    "orders_km_logrank",
    "ts_conformal_snaive",
    "emb_ivf_recall_curve",
    "doc_pack_bucketed_stats",
    "dedup_simhash_groups",
    "doc_winnow_screen",
    "dedup_ppjoin_incremental",
    "dedup_threshold_curve",
    "events_ks_drift",
    # r11: the sampled twin's value claim lives at THIS decade — at
    # sf1 the full-corpus gram shuffle dominates and sampled == exact
    # (14.6 vs 14.5s); at sf10 the exact curve is pair-hit-dominated
    # (51.2M pairs), which is what the 1/4 sample actually cuts
    "dedup_threshold_curve_sampled",
    # r11 second wave: content-hash shuffle (scan-shaped), the
    # minhash-pair-bound directional containment, and the segment-
    # keyed PSI (|segments| x |types| x 10 bounded past the counts)
    "dedup_exact_cross_source",
    "dedup_source_containment",
    "events_psi_drift_by_segment",
    "dedup_canonicalization_curve",
    "events_ks_drift_by_segment",
    "events_wasserstein_drift_by_segment",
    # r12: the fused governance rollup (one text scan; pair join shared
    # by the CC and containment branches) and the fused ANN build
    # certificate (KMeans-fit-dominated; the encode pass is join-free)
    "dedup_governance_pipeline",
    "emb_ivfpq_build_stats",
    # r13: the persisted-index serving family (build absorbed by the
    # warm absorber; the timed runs measure the production serve path
    # — pruned code scans + refine, no retrain/re-encode) and the
    # governance increments (index-join ingest screen + one rollup)
    "emb_ivfpq_persisted_topk",
    "emb_ivfpq_persisted_recall_curve",
    "dedup_governance_increments",
    # r13 second wave: residual-encoded IVF+PQ (KMeans-fit +
    # one-pass encode, like the flat build certificate)
    "emb_ivfpq_residual_topk",
    # r14: the cell-block certificate (exact regime at sf1, the
    # seeded SAMPLED regime at sf10 — 200k vectors crosses the 100k
    # exact boundary, so the sf10 row prices the regime the 100 TB
    # deployment actually runs), persisted residual serving,
    # multi-probe blocking, and image dHash near-dup dedup
    "dedup_embedding_cell_block_stats",
    "emb_ivfpq_residual_persisted_topk",
    "dedup_embedding_multiprobe_stats",
    "mm_phash_near_dups",
    # r14 second wave: the index-maintenance lifecycle (warm absorber
    # pays build+append+delete; timed runs price the tomb-filtered
    # pruned serve)
    "emb_ivfpq_upsert_topk",
    "emb_ivfpq_upsert_stats",
    "mm_audio_near_dups",
    "mm_video_near_dups",
    "doc_hybrid_rrf_search",
    "emb_ivfpq_compact_stats",
    # r15: third-decade row for the r14 events_profile rewrite
    "events_profile",
]


class Decade(NamedTuple):
    src: str  # the layer this decade expands
    low: str  # label of the decade's low end in the SCALE rows
    # the sf1 strides already offset copies by i*stride with key counts
    # ~10x the sf0.1 originals, so the sf10 layer strides past them all
    stride_mult: int
    salt: str  # per-copy word-salt prefix
    emb_step: float  # per-copy first-component embedding offset
    # files per output table: enough parallelism for a 32-core scan
    # without drowning small dims in footers (2 for the rest)
    n_files: dict[str, int]
    shuffle_factor: int  # shuffle partitions per core
    driver_mem: str
    headline: list[str]
    keep_runs: bool  # rows also keep every timed run


DECADES = {
    "sf1": Decade(
        src=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
        low="sf0.1",
        stride_mult=1,
        salt="c",
        emb_step=0.017,
        n_files={"lineitem": 16, "orders": 8, "events": 8, "documents": 4},
        shuffle_factor=2,
        driver_mem="24g",
        headline=HEADLINE,
        keep_runs=False,
    ),
    "sf10": Decade(
        src=os.path.join(SCALEDATA, "sf1"),
        low="sf1",
        stride_mult=10,
        salt="d",
        emb_step=0.0019,
        n_files={"lineitem": 64, "orders": 32, "events": 32, "documents": 16},
        shuffle_factor=4,
        driver_mem="48g",
        headline=HEADLINE10,
        keep_runs=True,
    ),
}


def materialize(spark, src: str, dst: str, decade: str) -> None:
    """Write the 10x expansion of the layer at ``src`` to ``dst`` under
    ``decade``'s strides, salt and file counts (atomically: built in
    ``dst.tmp``, then renamed)."""
    from pyspark.sql import functions as F

    from tsod_spark.registry import table

    d = DECADES[decade]
    os.makedirs(os.path.dirname(dst), exist_ok=True)
    tmp = dst + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    for name, strides in STRIDES.items():
        base = table(spark, src, name)
        if name in FIXED_DIMS:
            out = base
        else:
            parts = []
            for i in range(MULT):
                df = base
                for col, stride in strides.items():
                    df = df.withColumn(
                        col, F.col(col) + F.lit(i * stride * d.stride_mult)
                    )
                if name == "documents" and i > 0:
                    # word-salt copy i: unique shingles per copy, so the
                    # corpus' dup structure replicates instead of every
                    # doc becoming a 10-way cross-copy near-dup clique
                    salted = F.regexp_replace("text", r"(\S+)", f"{d.salt}{i}$1")
                    df = df.withColumn("text", salted).withColumn(
                        "n_chars", F.length("text")
                    )
                if name == "embeddings" and i > 0:
                    df = df.withColumn(
                        "embedding",
                        F.concat(
                            F.array(
                                (F.element_at("embedding", 1) + i * d.emb_step).cast(
                                    "float"
                                )
                            ),
                            F.slice("embedding", 2, 1_000_000),
                        ),
                    )
                parts.append(df)
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
        out.repartition(d.n_files.get(name, 2)).write.mode("overwrite").parquet(
            os.path.join(tmp, f"{name}.parquet")
        )
    shutil.rmtree(dst, ignore_errors=True)
    os.rename(tmp, dst)


def main() -> None:
    if len(sys.argv) < 2 or sys.argv[1] not in DECADES:
        raise SystemExit(__doc__)
    decade, args = sys.argv[1], sys.argv[2:]
    d = DECADES[decade]
    dst = os.path.join(SCALEDATA, decade)
    rebuild = "--rebuild" in args
    only = {a for a in args if not a.startswith("--")}

    from bench import noop_once, steady_median3
    from tsod_spark.conf import build_session

    # Parallelism/memory derive from the box (overridable like bench.py)
    # so the SCALE records are reproducible on machines smaller than
    # the 32-core reference box.
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    spark = build_session(
        f"{decade}-probe",
        f"local[{cpus}]",
        conf={
            "spark.sql.shuffle.partitions": str(d.shuffle_factor * int(cpus)),
            "spark.sql.adaptive.enabled": "true",
            "spark.driver.memory": os.environ.get(
                "SPARK_GRAFT_DRIVER_MEM", d.driver_mem
            ),
        },
    )

    if not os.path.isdir(d.src):
        raise SystemExit(f"{d.src} missing (sf10 expands the sf1 layer)")
    if rebuild or not os.path.isdir(dst):
        t0 = time.time()
        materialize(spark, d.src, dst, decade)
        print(f"materialized {decade} in {time.time() - t0:.1f}s", flush=True)

    import __spark_entry__ as entrymod
    from tsod_spark.pipeline import dedup
    from tsod_spark.registry import table

    qmap = entrymod.queries()
    # warmup (same rationale as bench.py, abbreviated)
    for t in STRIDES:
        table(spark, dst, t).limit(1).write.format("noop").mode("overwrite").save()
    table(spark, d.src, "documents").limit(32).select("doc_id").mapInPandas(
        lambda it: it, "doc_id long"
    ).write.format("noop").mode("overwrite").save()
    dedup.minhash_duplicate_groups(
        table(spark, d.src, "documents").limit(64)
    ).write.format("noop").mode("overwrite").save()

    results: dict = {}
    out_path = os.path.join(REPO, f"SCALE_{decade}.json")
    if only and os.path.exists(out_path):
        with open(out_path) as fh:
            results.update(json.load(fh).get("queries", {}))
    for name in d.headline:
        if only and name not in only:
            continue
        fn = qmap[name]
        t: dict = {}
        spread: dict = {}
        runs: dict = {}
        for label, sf_dir in ((d.low, d.src), (decade, dst)):
            # converged-warm absorbers, then steady-state median-of-3:
            # the C2 recompile race can span more runs than a fixed
            # triple absorbs on the heaviest queries
            t[label], spread[label], runs[label] = steady_median3(
                lambda: noop_once(spark, fn, sf_dir)
            )
        ratio = round(t[decade] / t[d.low], 2) if t[d.low] > 0 else None
        results[name] = {**t, "ratio": ratio, "spread": spread}
        if d.keep_runs:
            results[name]["runs"] = runs
        print(
            f"{name}: {d.low}={t[d.low]}s {decade}={t[decade]}s ratio={ratio} "
            f"spread={spread}",
            flush=True,
        )

    payload = json.dumps({"multiplier": MULT, "queries": results}, indent=1)
    with open(out_path, "w") as fh:
        fh.write(payload + "\n")
    print(payload)
    spark.stop()


if __name__ == "__main__":
    main()
