"""Driver-facing query registry: Spark query builders + DuckDB oracle SQL.

Every operator from SURVEY.md §2 (and the LLM-pipeline additions) gets a
``(spark, sf_dir) -> DataFrame`` builder plus, where SQL can express it,
an ANSI-SQL twin with IDENTICAL semantics:

- anomaly flags are booleans (exact), keys are ints (exact);
- money sums run in integer cents (bit-exact across engines regardless
  of partial-aggregation order);
- unavoidable float outputs (quantiles, stddev, cosine) are computed
  with the same operation order/association in both engines and
  rounded to 6 decimals;
- integer outputs are cast to 64-bit on both sides.

Column names are aliased identically on both sides (the driver's
compare sorts columns by name before hashing).

The query builders themselves live in ``tsod_spark/queries/`` split by
family; importing that package populates QUERIES/ORACLE in registration
order. This module is the stable import surface (``table``, ``flagship``,
``QUERIES``, ``ordered_queries``...) and owns the verification order.

Verification order: the driver oracle-checks the FIRST 50 names of
``ordered_queries()`` each round and commits the verdicts as
``CORRECTNESS_r{N}.json`` beside this package. A query's latest verified
round is the highest N whose record has it green (rows, schema and hash
all match, no error); 0 if none. Names whose latest verdict predates
their current code (never verified, or listed in ``CHANGED``) come first,
then the rest stalest first, registration order within each tier. The
records are read on each call, never at import. Committing the round's
record is the whole per-round update; a change to a registered query's
plan or semantics adds ``name: next driver round`` to ``CHANGED``, and the
entry stops mattering once that round's record has the query green.
"""

from __future__ import annotations

import json
import re
from pathlib import Path

from . import queries as _queries_pkg  # noqa: F401  (registration side-effects)
from .queries._base import ORACLE, QUERIES, table  # noqa: F401
from .queries.entry import flagship  # noqa: F401

_RECORDS = Path(__file__).resolve().parents[1]

# query -> first driver round whose record can cover its current code
CHANGED: dict[str, int] = {
    # r15 optimization waves (OPTIMIZATION_r15.md, "OPTIMIZED wN")
    **dict.fromkeys((
        "doc_decontaminate", "doc_tfidf_topk", "doc_curation_pipeline",
        "doc_winnow_fingerprints", "dedup_winnow_overlap",
        "dedup_winnow_overlap_capped", "doc_winnow_screen",
        "ts_mllib_kmeans", "emb_ivf_topk", "emb_ivfpq_topk", "emb_pq_topk",
        "doc_contamination_stats", "ts_ccf", "events_ks_drift",
        "supplier_ship_latency", "emb_ivf_recall_curve",
        "events_wasserstein_drift", "doc_contamination_by_split",
        "emb_pq_distortion_curve", "events_ks_drift_by_segment",
        "events_wasserstein_drift_by_segment", "emb_ivfpq_persisted_topk",
        "dedup_governance_increments", "emb_ivfpq_persisted_recall_curve",
        "emb_ivfpq_residual_topk", "emb_ivfpq_residual_persisted_topk",
        "dedup_embedding_multiprobe_stats", "emb_ivfpq_upsert_topk",
        "emb_ivfpq_compact_stats",
    ), 15),
    # text_stats now rounds quality_score like its DuckDB oracle
    "doc_stats": 16,
    # HampelDetector sorts each window array once (sort_array columns)
    "ts_hampel": 16,
}


def _green(row: dict) -> bool:
    return (
        row.get("rows_match") is True
        and row.get("schema_match") is True
        and row.get("hash_match") is True
        and row.get("err") is None
    )


def _latest_verified_rounds(root: Path = _RECORDS) -> dict[str, int]:
    """Highest driver round whose committed record has each query green."""
    latest: dict[str, int] = {}
    for path in root.glob("CORRECTNESS_r*.json"):
        m = re.search(r"_r(\d+)\.json$", path.name)
        if not m:
            continue
        rnd = int(m.group(1))
        for name, row in json.loads(path.read_text()).items():
            if _green(row) and rnd > latest.get(name, 0):
                latest[name] = rnd
    return latest


def _latest_verified_round(n: str) -> int:
    return _latest_verified_rounds().get(n, 0)


def _rotated(d: dict) -> dict:
    latest = _latest_verified_rounds()

    def age(n: str) -> int:
        r = latest.get(n, 0)
        return 0 if r < CHANGED.get(n, 1) else r

    return {n: d[n] for n in sorted(d, key=age)}  # stable: registration order


def ordered_queries() -> dict:
    return _rotated(QUERIES)


def ordered_oracle() -> dict:
    return _rotated(ORACLE)
