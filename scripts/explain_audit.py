"""Plan-quality audit: formatted-explain every registered query and
flag scale anti-patterns.

Checks (heuristics over `.explain("formatted")` text):

- CartesianProduct / BroadcastNestedLoopJoin — quadratic at scale
  (allowed only where the query is genuinely all-pairs by design);
- BatchEvalPython — row-at-a-time Python UDF in the plan (Arrow
  paths show ArrowEvalPython / MapInPandas instead);
- a parquet scan whose sibling Filter references a scannable column
  but shows no PushedFilters entry;
- double-kernel range sort (VERDICT r9 #6, the r9 Holt-Winters 2x):
  an ``Exchange rangepartitioning`` whose subtree reaches a Python
  stage (FlatMapGroupsInPandas / MapInPandas / ArrowEvalPython /
  BatchEvalPython) with no intervening shuffle Exchange or
  InMemoryTableScan — range partitioning runs a SAMPLING pass over
  its child first, so the Python kernel executes TWICE. A shuffle or
  cache between the sort and the kernel is a barrier (the sample
  reuses shuffle files / cached blocks); otherwise cache() the kernel
  output below the global orderBy.

(Codegen spans are not visible in formatted explain under AQE —
checking them needs an executed plan, which bench covers.)

Usage: python scripts/explain_audit.py [sf_dir] [query ...]
Exit 1 if any query trips a check it isn't allowlisted for.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# genuinely-all-pairs / tiny-side queries where a nested-loop or
# cartesian stage is the intended physical plan
ALLOW_NLJ = {
    "emb_cosine_topk",   # broadcast single query vector (crossJoin by design)
    "emb_knn_join",      # broadcast few-row query side
    "emb_knn_label_accuracy",  # broadcast few-row query side
    "emb_ivf_topk",      # broadcast single query vector into probed cells
    "tpch_q22",          # broadcast 1-row scalar-subquery crossJoin (lazy
                         # above-mean threshold; linear, not quadratic)
    "tpch_q11",          # broadcast 1-row grand-total crossJoin (lazy
                         # HAVING-fraction threshold; linear)
    "doc_tfidf_topk",    # broadcast 1-row corpus-size crossJoin (lazy
                         # scalar for the idf denominator; linear)
    "doc_bm25_search",   # broadcast few-row query-term side + 1-row
                         # avgdl scalar crossJoin; one corpus scan
    "doc_hybrid_rrf_search",  # both legs' by-design crossJoins (BM25's
                         # 1-row avgdl scalar + cosine_topk's broadcast
                         # single query vector); fusion join is k-row
    "doc_vocab_overlap", # broadcast cross of the two per-GROUP size
                         # tables (#groups rows each, ~20) — the pair
                         # matrix is quadratic in groups, not corpus
    "emb_pq_topk",       # broadcast single query vector + 1-row
                         # recall-certificate crossJoin
    "emb_ivfpq_topk",    # same certificate shape as emb_pq_topk
    "emb_ivfpq_persisted_topk",  # same certificate shape, served from
                         # the persisted cell-partitioned index
    "emb_ivfpq_residual_topk",  # same certificate shape, residual codes
    "emb_ivfpq_residual_persisted_topk",  # same certificate shape,
                         # served from the persisted residual index
    "emb_ivfpq_upsert_topk",  # same certificate shape, served from the
                         # lifecycle (append+delete) index; extra 1-row
                         # no_tombstoned crossJoin
    "emb_ivfpq_upsert_stats",  # three 1-row broadcast stat crossJoins
                         # (live x tombstones x disjointness boolean)
    "emb_ivfpq_compact_stats",  # 1-row broadcast stat crossJoins (live
                         # count x compacted-vs-uncompacted equality);
                         # both serve legs are the allowlisted topk
                         # certificate shape
    "dedup_embedding_cell_block_stats",  # broadcast 1-row stats
                         # crossJoin (pair counts x candidate counts);
                         # the exact all-pairs side is an Arrow kernel
                         # — the TEST-SCALE certificate by design (the
                         # recall_certificate contract); the blocked
                         # path it certifies is the equi-join
    "events_hll_overlap",  # broadcast self-pairing of the per-GROUP
                         # HLL sketch table (#event_types rows, ~5) —
                         # the pair matrix is quadratic in groups,
                         # never in the fact table (doc_vocab_overlap
                         # shape)
    "events_theta_sets",  # same shape: per-GROUP theta sketch table
                         # self-paired (~5 rows/side) + per-group
                         # count grid; quadratic in groups only
    "events_assoc_rules",  # per-ITEM count grid self-paired (~5
                         # rows/side) + broadcast 1-row distinct-user
                         # total crossJoin; quadratic in items only
    "doc_bigram_heavy_hitters",  # broadcast 1-row corpus-total
                         # crossJoin (lazy ceil(phi*N) threshold
                         # scalar; linear)
    "events_ks_drift",   # ECDF grid = distinct-cent table crossed
                         # with the tiny group list (linear in the
                         # value domain) + 1-row total crossJoin
    "events_mannwhitney",  # broadcast 1-row (total, tie-sum) scalar
                         # crossJoin; all frames domain-bounded
    "orders_rfm",        # broadcast 1-row max-order-date scalar
                         # crossJoin; quintile windows sort the
                         # customer-dim aggregate only
    "parts_abc",         # broadcast 1-row grand-total scalar
                         # crossJoin; cumulative window over the
                         # part-dim aggregate only
    "events_markov",     # broadcast 1-row grand-total scalar
                         # crossJoin onto the |types|^2 pair table
                         # (lift denominator; linear in the fact)
    "orders_km_survival",  # broadcast 1-row max-date scalar crossJoin
                         # onto the per-customer censored tails
                         # (customer-dim sized; linear)
    "doc_zipf_fit",      # broadcast 1-row corpus-totals crossJoin onto
                         # the 1-row regression-moment table (1x1)
    "emb_label_silhouette",  # broadcast |labels|-row centroid-array
                         # crossJoin onto the vectors (quadratic in
                         # labels only, ~8 rows/side)
    "orders_km_segment_summary",  # broadcast 1-row max-date scalar
                         # crossJoin onto the censored tails (the
                         # orders_km_survival shape, segment-labeled)
    "orders_nelson_aalen",  # inherits orders_km_survival's 1-row
                         # max-date scalar crossJoin (shared risk table)
    "orders_km_quartiles",  # inherits orders_km_survival's 1-row
                         # max-date scalar crossJoin; everything after
                         # the curve is grid-bounded (3 levels)
    "orders_km_quartiles_by_segment",  # inherits km_segment_curve's
                         # 1-row max-date scalar crossJoin; post-curve
                         # stages bounded by |segments| x 3 grid
    "orders_nelson_aalen_by_segment",  # inherits km_segment_risk's
                         # 1-row max-date scalar crossJoin
    "orders_km_logrank",  # 1-row max-date scalar crossJoin (censored
                         # tails) + |segments| x |duration grid| cross
                         # for the at-risk reverse cumsum — both
                         # bounded by the duration GRID, never orders
    "events_psi_drift",  # broadcast 1-row midpoint-scalar crossJoin;
                         # everything past the counts agg is
                         # |types| x 10 buckets
    "events_psi_drift_by_segment",  # inherits the global PSI query's
                         # 1-row midpoint-scalar crossJoin (GLOBAL
                         # calendar split by design); post-counts
                         # frames are |segments| x |types| x 10
    "events_wasserstein_drift",  # same 1-row midpoint-scalar crossJoin
                         # (the half-split convention); everything past
                         # the counts agg is domain-bounded ECDF rows
    "events_wasserstein_drift_by_segment",  # inherits the global W1
                         # query's 1-row midpoint-scalar crossJoin (the
                         # midpoint is deliberately GLOBAL so segments
                         # share one calendar split); post-counts
                         # frames are |segments| x domain-bounded
    "dedup_lsh_tuning_curve",  # broadcast 1-row truth-count crossJoin
                         # onto the 4-row per-config aggregate (the
                         # recall denominator scalar; linear)
    "dedup_threshold_curve",  # suffix-sum range joins of the 7-row
                         # threshold grid against <= 8-row bucket
                         # histograms (r10 one-pass rewrite) — nested
                         # loop over tiny frames only; the pair pass
                         # itself is the one equi-join scan
    "dedup_threshold_curve_sampled",  # same suffix-sum shape per
                         # block ((7 x |blocks|)-row grid vs
                         # block-bucket histograms) + 1-row totals
                         # crossJoin; the sampled pair pass is the one
                         # equi-join scan
    "emb_label_davies_bouldin",  # |labels|-row centroid-array
                         # self-crossJoin (|labels|^2 = ~64 rows) +
                         # broadcast scatter joins — quadratic in
                         # CLUSTERS only (emb_label_silhouette shape)
}
# mapInPandas is the designed path here, not an accident; ts_ewma is a
# sequential recurrence (no Spark scan/fold builtin) running pandas'
# vectorized C ewm kernel per series via applyInPandas; emb_pq_topk's
# encode is dense numeric kernel work where both Column formulations
# lose (interpreted HOFs / Janino method-limit blowup — similarity.py)
ALLOW_PY = {
    "mm_decode",
    "mm_resize",
    "mm_frames",
    "mm_real_decode",
    "ts_ewma",
    "emb_pq_topk",
}


_PY_NODES = (
    "FlatMapGroupsInPandas",
    "FlatMapGroupsInArrow",
    "MapInPandas",
    "MapInArrow",
    "ArrowEvalPython",
    "BatchEvalPython",
    "FlatMapGroupsInPandasWithState",
)


def _tree_nodes(plan: str) -> list[tuple[int, str, str]]:
    """Parse the formatted-explain TREE section into
    ``(depth, node_name, node_id)`` rows in preorder. Depth comes from
    the drawing-prefix width; the tree ends at the first blank line."""
    rows = []
    for line in plan.splitlines():
        if not line.strip():
            break
        # strip the tree-drawing prefix (spaces, '+- ', ':- ', ': ', '* ')
        i = 0
        while i < len(line) and line[i] in " +-:*":
            i += 1
        label = line[i:].strip()
        if not label:
            continue
        depth = i
        node_id = ""
        name = label
        if label.endswith(")") and "(" in label:
            name, _, tail = label.rpartition("(")
            name = name.strip()
            node_id = tail.rstrip(")")
        rows.append((depth, name, node_id))
    return rows


def find_double_kernel_sorts(plan: str) -> list[str]:
    """Node ids of ``Exchange rangepartitioning`` stages whose subtree
    reaches a Python stage with no shuffle/cache barrier in between —
    each one pays the Python kernel twice via the range-sample pass."""
    nodes = _tree_nodes(plan)
    # node-id -> detail blob (to read Exchange Arguments)
    details: dict[str, str] = {}
    cur = None
    for line in plan.splitlines():
        s = line.strip()
        if s.startswith("(") and ")" in s[:8]:
            cur = s[1 : s.index(")")]
            details[cur] = s
        elif cur is not None:
            details[cur] = details.get(cur, "") + "\n" + line
    flagged = []
    for idx, (depth, name, nid) in enumerate(nodes):
        if name != "Exchange":
            continue
        if "rangepartitioning" not in details.get(nid, ""):
            continue
        # walk the subtree (following rows strictly deeper than `depth`)
        j = idx + 1
        barrier_depths: list[int] = []
        hit = False
        while j < len(nodes) and nodes[j][0] > depth:
            d, n, _ = nodes[j]
            barrier_depths = [b for b in barrier_depths if b < d]
            if not barrier_depths:
                if any(p in n for p in _PY_NODES):
                    hit = True
                    break
                if n == "Exchange" or n.startswith("InMemory"):
                    barrier_depths.append(d)
            j += 1
        if hit:
            flagged.append(nid)
    return flagged


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from tsod_spark.conf import build_session

    spark = build_session(
        "explain-audit", "local[8]", conf={"spark.sql.shuffle.partitions": "8"}
    )

    import __spark_entry__ as entrymod

    failures = []
    for name, fn in entrymod.queries().items():
        if only and name not in only:
            continue
        df = fn(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        problems = []
        if name not in ALLOW_NLJ and (
            "CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan
        ):
            problems.append("nested-loop/cartesian join")
        if "BatchEvalPython" in plan:
            problems.append("row-at-a-time Python UDF")
        dbl = find_double_kernel_sorts(plan)
        if dbl:
            problems.append(
                "double-kernel range sort above Python stage "
                f"(exchange node {','.join(dbl)}) — cache() the kernel "
                "output below the global orderBy"
            )
        if problems:
            failures.append((name, problems))
            print(f"FLAG {name}: {', '.join(problems)}")
        else:
            print(f"ok   {name}")
    if failures:
        print(f"\n{len(failures)} flagged")
        return 1
    print("\nall plans clean")
    return 0


if __name__ == "__main__":
    sys.exit(main())
