"""Round-11 regression tests for the ADVICE r10 items: stale-ppjoin-index
exactness with novel grams (high), tracked-cache registry bounds +
thread-local scopes (medium), LSH band-config nesting validation and
truth-reuse (low), and the ivf_recall_curve missing-vec_id guard (low)."""

import threading

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# ADVICE r10 #1 (high): ppjoin_pairs with a STALE index must still be exact
# ---------------------------------------------------------------------------


def _corpus(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, source string, text string")


def test_ppjoin_stale_index_novel_grams_exact(spark):
    """An index snapshot built BEFORE two new docs arrive knows none of
    their grams. The old inner join dropped those grams before
    row_number, so the all-novel duplicate pair produced zero candidates
    despite Jaccard 1.0. With the left-join/df-0 fix the stale-index run
    must equal the fresh recompute bit-for-bit."""
    from tsod_spark.pipeline import dedup
    from tsod_spark.util import cache_scope

    old = _corpus(
        spark,
        [
            (1, "s", "alpha beta gamma delta"),
            (2, "s", "alpha beta gamma epsilon"),
            (3, "s", "zeta eta theta iota"),
        ],
    )
    new_docs = [
        # entirely novel vocabulary — no gram appears in the snapshot
        (10, "s", "quux corge grault garply"),
        (11, "s", "quux corge grault garply"),
        # mixed: one known gram, three novel
        (12, "s", "alpha waldo fred plugh"),
        (13, "s", "alpha waldo fred plugh"),
    ]
    full = _corpus(spark, [tuple(r) for r in old.collect()] + new_docs)
    with cache_scope():
        stale_idx = dedup.ppjoin_index(old, shingle_n=1).cache()
        stale_idx.count()
        fresh = dedup.ppjoin_pairs(full, thr_pct=90, shingle_n=1).collect()
        with_stale = dedup.ppjoin_pairs(
            full, thr_pct=90, shingle_n=1, index=stale_idx
        ).collect()
        stale_idx.unpersist()
    key = lambda r: (r.doc_a, r.doc_b)  # noqa: E731
    assert sorted(map(key, fresh)) == sorted(map(key, with_stale))
    got = {key(r): r.jaccard for r in with_stale}
    # the all-novel duplicate pair MUST be found (the old bug's miss)
    assert got[(10, 11)] == 1.0
    assert got[(12, 13)] == 1.0
    fj = {key(r): r.jaccard for r in fresh}
    for kk, v in got.items():
        assert fj[kk] == v


# ---------------------------------------------------------------------------
# ADVICE r10 #2 (medium): tracked-cache registry bounds + thread-local scopes
# ---------------------------------------------------------------------------


def test_tracked_cache_registry_self_prunes(spark):
    """Outside any scope, dead DataFrame objects must not accumulate in
    the module registry: after GC, the registry holds only live refs."""
    import gc

    from tsod_spark import util

    util.unpersist_tracked()
    for i in range(25):
        df = util.tracked_cache(spark.range(10 + i))
        df.count()
        df.unpersist()
        del df
    gc.collect()
    # one more append triggers the prune of the 25 dead refs
    keep = util.tracked_cache(spark.range(999))
    with util._TRACKED_LOCK:
        live = [r for r in util._TRACKED_CACHES if r() is not None]
        total = len(util._TRACKED_CACHES)
    assert total <= 2, f"registry kept {total} entries for dead frames"
    assert any(r() is keep for r in live)
    keep.unpersist()


def test_cache_scope_is_thread_local(spark):
    """A scope exiting on one thread must not unpersist frames another
    thread cached inside ITS own still-open scope (the old shared
    len()-mark did)."""
    from tsod_spark import util

    util.unpersist_tracked()
    results = {}
    barrier = threading.Barrier(2, timeout=30)
    release = threading.Event()

    def worker(name, n):
        with util.cache_scope():
            df = util.tracked_cache(spark.range(n))
            df.count()
            barrier.wait()  # both threads have cached inside their scope
            if name == "a":
                pass  # thread a exits its scope first
            else:
                release.wait(timeout=30)  # thread b outlives a's exit
                results["b_cached_after_a_exit"] = df.storageLevel.useMemory
        results[name] = True

    ta = threading.Thread(target=worker, args=("a", 50))
    tb = threading.Thread(target=worker, args=("b", 60))
    ta.start(), tb.start()
    ta.join(timeout=60)
    release.set()
    tb.join(timeout=60)
    assert results.get("a") and results.get("b")
    # b's frame was still cached when a's scope had already exited
    assert results["b_cached_after_a_exit"] is True


# ---------------------------------------------------------------------------
# ADVICE r10 #4 (low): band-config nesting validation
# ---------------------------------------------------------------------------


def test_lsh_tuning_curve_rejects_non_nested_configs(spark):
    from tsod_spark.pipeline import dedup
    from tsod_spark.registry import table

    docs = table(spark, SF, "documents")
    with pytest.raises(ValueError, match="pairwise nested"):
        dedup.lsh_tuning_curve(docs, k=12, band_configs=(2, 3, 12))
    # nested configs with k=12 pass validation (smoke: plan builds)
    df = dedup.lsh_tuning_curve(docs, k=12, band_configs=(1, 2, 6, 12))
    assert "recall" in df.columns


# ---------------------------------------------------------------------------
# ADVICE r10 #5 (low): missing query vec_id raises a named error
# ---------------------------------------------------------------------------


def test_ivf_recall_curve_missing_vec_id_raises(spark):
    from tsod_spark.pipeline import similarity
    from tsod_spark.registry import table

    emb = table(spark, SF, "embeddings")
    with pytest.raises(ValueError, match="vec_id -17 not found"):
        similarity.ivf_recall_curve(emb, query_vec_id=-17)


def test_cosine_topk_missing_vec_id_raises(spark):
    """The shared _query_vector guard covers the PQ/IVFPQ entry points
    too; pq_topk is the cheapest to exercise."""
    from tsod_spark.pipeline import similarity
    from tsod_spark.registry import table

    emb = table(spark, SF, "embeddings").limit(64)
    with pytest.raises(ValueError, match="not found"):
        similarity.pq_topk(emb, query_vec_id=10**9, m=4, n_centroids=4)


# ---------------------------------------------------------------------------
# VERDICT r10 #2: PQ distortion-vs-m tuning curve (raw curve range pins)
# ---------------------------------------------------------------------------


def test_pq_distortion_curve_raw_ranges(spark):
    """The registered certificate pins booleans; this pins the raw
    curve: provable monotone distortion (nested codebooks), sane value
    ranges, exact bytes accounting, and the full-refine anchor."""
    from tsod_spark.pipeline import similarity
    from tsod_spark.registry import table
    from tsod_spark.util import cache_scope

    with cache_scope():
        rows = similarity.pq_distortion_curve(
            table(spark, SF, "embeddings")
        ).collect()
    assert [r.m for r in rows] == [4, 8, 16, 32]
    assert [r.bytes_per_code for r in rows] == [4, 8, 16, 32]
    assert [r.codebook_k for r in rows] == [16, 32, 48, 64]
    assert [r.compression_x for r in rows] == [64.0, 32.0, 16.0, 8.0]
    dist = [r.mean_distortion for r in rows]
    # provably nonincreasing (nested codebooks); strictly so in practice
    assert all(a >= b for a, b in zip(dist, dist[1:])), dist
    assert 0.4 < dist[0] < 1.2 and 0.02 < dist[-1] < 0.2, dist
    rec = [r.recall_k for r in rows]
    assert all(0.0 <= r <= 1.0 for r in rec)
    assert rec[-1] >= 0.5  # finest m floor (measured-stable)
    # the provable anchor: full-corpus refine IS the exact scan
    assert rows[-1].full_refine_recall == 1.0
    assert all(r.full_refine_recall is None for r in rows[:-1])


def test_pq_nested_codebooks_validation_and_nesting(spark):
    """Nesting construction: every finer codebook contains the split
    halves of each coarser augmented centroid (the monotonicity proof's
    premise), and non-nested m grids are rejected."""
    from tsod_spark.pipeline import similarity
    from tsod_spark.registry import table

    emb = table(spark, SF, "embeddings")
    with pytest.raises(ValueError, match="pairwise nested"):
        similarity.pq_nested_codebooks(emb, m_configs=(4, 6, 12))
    with pytest.raises(ValueError, match="strictly increasing"):
        similarity.pq_nested_codebooks(emb, m_configs=(8, 4))
    books = similarity.pq_nested_codebooks(emb, m_configs=(4, 8))
    # each m=8 subspace j holds the (j%2)-th halves of m=4 book j//2
    for j in range(8):
        fine = books[8][j]
        parent = books[4][j // 2]
        off = (j % 2) * 8
        for cent in parent:
            assert cent[off : off + 8] in fine


# ---------------------------------------------------------------------------
# VERDICT r10 #3: sampled threshold-curve twin (CI agreement at sf0.1)
# ---------------------------------------------------------------------------


def test_threshold_curve_sampled_vs_exact_within_ci_sf01(spark):
    """The sampled twin's Wilson interval must cover the exact curve's
    drop share at every threshold at sf0.1 (the scale VERDICT r10 #3
    names). Also pins the estimator plumbing: raw sampled counts never
    exceed their expansions, and the interval is ordered."""
    from tsod_spark.registry import QUERIES
    from tsod_spark.util import cache_scope

    sf = "/root/testdata/sf0.1"
    with cache_scope():
        exact = {
            r.thr_pct: r.drop_share
            for r in QUERIES["dedup_threshold_curve"](spark, sf).collect()
        }
        sampled = QUERIES["dedup_threshold_curve_sampled"](spark, sf).collect()
    assert len(sampled) == 7 and set(exact) == {r.thr_pct for r in sampled}
    for r in sampled:
        assert 0.0 <= r.ci95_lo <= r.ci95_hi <= 1.0
        # Wilson must not collapse: the upper bound stays positive even
        # when the sample catches zero dropped docs (the sf0.1 case)
        assert r.ci95_hi > 0.0
        assert r.ci95_lo <= exact[r.thr_pct] <= r.ci95_hi, (
            r.thr_pct,
            exact[r.thr_pct],
            r.ci95_lo,
            r.ci95_hi,
        )
        assert r.n_dup_pairs_sampled <= r.n_dup_pairs_est
        assert r.n_docs_dropped_sampled <= r.n_docs_dropped_est
        assert r.n_sampled_docs == sampled[0].n_sampled_docs


def test_threshold_curve_sampled_deterministic(spark):
    """Same corpus, same sample, bit-identical output across calls (the
    re-shard-stable hash discipline)."""
    from tsod_spark.registry import QUERIES
    from tsod_spark.util import cache_scope

    with cache_scope():
        a = QUERIES["dedup_threshold_curve_sampled"](spark, SF).collect()
    with cache_scope():
        b = QUERIES["dedup_threshold_curve_sampled"](
            spark, SF
        ).repartition(7).orderBy("thr_pct").collect()
    assert a == sorted(b, key=lambda r: r.thr_pct)


# ---------------------------------------------------------------------------
# VERDICT r10 #7: by-segment drift reduces to global on one segment
# ---------------------------------------------------------------------------


def test_ks_drift_single_segment_reduces_to_global(spark):
    from tsod_spark.analytics import stattests
    from tsod_spark.registry import table

    e = table(spark, SF, "events")
    glob = stattests.ks_drift(e).collect()
    seg = stattests.ks_drift(
        e.withColumn("cohort", F.lit(0)), seg_col="cohort"
    ).collect()
    assert len(glob) == len(seg) > 0
    for g, s in zip(glob, seg):
        assert s.cohort == 0
        assert (s.event_type, s.n_group, s.ks, s.ks_at_cent, s.drift_flag) == (
            g.event_type,
            g.n_group,
            g.ks,
            g.ks_at_cent,
            g.drift_flag,
        )


def test_wasserstein_drift_single_segment_reduces_to_global(spark):
    from tsod_spark.analytics import stattests
    from tsod_spark.registry import table

    e = table(spark, SF, "events")
    glob = stattests.wasserstein_drift(e).collect()
    seg = stattests.wasserstein_drift(
        e.withColumn("cohort", F.lit(0)), seg_col="cohort"
    ).collect()
    assert len(glob) == len(seg) > 0
    for g, s in zip(glob, seg):
        assert s.cohort == 0
        assert (
            s.event_type,
            s.n_ref,
            s.n_cur,
            s.w1_value,
            s.w1_norm,
            s.drift_flag,
        ) == (g.event_type, g.n_ref, g.n_cur, g.w1_value, g.w1_norm, g.drift_flag)


def test_segmented_drift_is_segment_local(spark):
    """A drift injected into ONE cohort must move that cohort's W1 and
    not the others' (the reason the by-segment factoring exists)."""
    import datetime

    from tsod_spark.analytics import stattests

    base = datetime.datetime(2024, 1, 1)
    rows = []
    for i in range(400):
        hour = i % 20
        cohort = i % 2
        # cohort 1 drifts hard in the second half; cohort 0 is stable
        if hour >= 10 and cohort == 1:
            v = 50.0 + (i % 5)
        else:
            v = 1.0 + (i % 5) * 0.01
        rows.append(
            (
                "a",
                cohort,
                base + datetime.timedelta(hours=hour, seconds=i % 3600),
                v,
            )
        )
    e = spark.createDataFrame(
        rows, "event_type string, cohort int, ts timestamp, value double"
    )
    out = {
        r.cohort: r
        for r in stattests.wasserstein_drift(e, seg_col="cohort").collect()
    }
    assert out[1].drift_flag and out[1].w1_value > 10.0
    assert not out[0].drift_flag and out[0].w1_value < 1.0


# ---------------------------------------------------------------------------
# PPJoin hash-ordered prefix path (VERDICT r10 #6): the pairs path now
# sorts int64 (df, gh) structs + slices top-p instead of a row_number
# window over gram-string rows. Pin (a) bigram-mode exactness against
# pure python (the tier the rewrite targets — existing invariance tests
# only covered shingle_n=1), (b) bigram equality with the full
# inverted-index engine, and (c) that the hash-order prefix selects the
# same per-doc prefix LENGTH p as the string-order stats path (p is
# order-independent; a slice bug would break this first).


def _pure_bigram_jaccard_pairs(docs, pct):
    import itertools

    by_blk = {}
    for doc_id, blk, text in docs:
        toks = [t for t in text.lower().split() if t]
        grams = frozenset(
            " ".join(toks[i : i + 2]) for i in range(len(toks) - 1)
        )
        if grams:
            by_blk.setdefault(blk, []).append((doc_id, grams))
    out = {}
    for blk, members in by_blk.items():
        for (ida, ta), (idb, tb) in itertools.combinations(sorted(members), 2):
            inter = len(ta & tb)
            union = len(ta) + len(tb) - inter
            if 100 * inter >= pct * union:
                out[(ida, idb)] = round(inter / union, 6)
    return out


def _bigram_corpus(seed=29, n_docs=90, vocab_n=12):
    import random

    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(vocab_n)]
    return [
        (
            i,
            f"s{rng.randint(0, 1)}",
            " ".join(rng.choice(vocab) for _ in range(rng.randint(2, 10))),
        )
        for i in range(n_docs)
    ]


def test_ppjoin_bigram_matches_pure_python(spark):
    from tsod_spark.pipeline import dedup

    docs = _bigram_corpus()
    df = spark.createDataFrame(docs, "doc_id long, source string, text string")
    for pct in (40, 70, 100):
        got = {
            (r.doc_a, r.doc_b): r.jaccard
            for r in dedup.ppjoin_pairs(df, thr_pct=pct, shingle_n=2).collect()
        }
        assert got == _pure_bigram_jaccard_pairs(docs, pct), f"pct={pct}"


def test_ppjoin_bigram_matches_index_engine(spark):
    from tsod_spark.pipeline import dedup

    docs = _bigram_corpus(seed=31)
    df = spark.createDataFrame(docs, "doc_id long, source string, text string")
    pp = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.ppjoin_pairs(df, thr_pct=50, shingle_n=2).collect()
    }
    full = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.jaccard_pairs_index(df, shingle_n=2).collect()
        if r.jaccard >= 0.5  # 0.5 dyadic: round6 cannot cross the cut
    }
    assert pp == full


def test_ppjoin_hash_order_prefix_same_lengths_as_string_order(spark):
    from tsod_spark.pipeline.dedup import _ppjoin_prefix

    docs = _bigram_corpus(seed=37)
    df = spark.createDataFrame(docs, "doc_id long, source string, text string")
    by_hash = {
        r.doc_id: r.p
        for r in _ppjoin_prefix(
            df, 40, "text", "source", 2, cache=False, order_by_hash=True
        )[1]
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("p"))
        .collect()
    }
    by_str = {
        r.doc_id: r.p
        for r in _ppjoin_prefix(df, 40, "text", "source", 2, cache=False)[1]
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("p"))
        .collect()
    }
    assert by_hash == by_str and by_hash


# ---------------------------------------------------------------------------
# Cross-source duplication matrices (exact + MinHash tiers)


def test_cross_source_matrix_matches_brute_force(spark):
    import itertools

    from tsod_spark.pipeline import dedup

    rows = [
        (0, "s0", "alpha beta"),
        (1, "s0", "alpha beta"),   # within-s0 dup
        (2, "s1", "beta  ALPHA"),  # canonical dup of s0's content
        (3, "s1", "gamma"),
        (4, "s2", "gamma gamma"),  # canonical dup (repetition collapses)
        (5, "s2", "delta"),        # unique
        (6, "s0", "gamma"),        # s0 joins the gamma content too
    ]

    def canon(t):
        return " ".join(sorted(set(t.lower().split())))

    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {
        (r.source_a, r.source_b): (r.dup_pairs, r.shared_contents)
        for r in dedup.exact_cross_source_matrix(df).collect()
    }
    # brute force over doc pairs, canonical equality
    exp_pairs: dict = {}
    exp_contents: dict = {}
    for (i, si, ti), (j, sj, tj) in itertools.combinations(rows, 2):
        ti, tj = canon(ti), canon(tj)
        if ti != tj:
            continue
        key = tuple(sorted((si, sj)))
        exp_pairs[key] = exp_pairs.get(key, 0) + 1
    for key in exp_pairs:
        a, b = key
        contents = set()
        for (i, si, ti), (j, sj, tj) in itertools.combinations(rows, 2):
            if canon(ti) == canon(tj) and tuple(sorted((si, sj))) == key:
                contents.add(canon(ti))
        exp_contents[key] = len(contents)
    assert got == {
        k: (exp_pairs[k], exp_contents[k]) for k in exp_pairs
    }


# ---------------------------------------------------------------------------
# Keyed (by-segment) streaming drift twins


def _halves_with_cohort(spark, sf_dir):
    from tsod_spark.registry import table as rt

    e = rt(spark, sf_dir, "events").withColumn("cohort", F.col("user_id") % 4)
    d = e.withColumn("__hb", F.expr("unix_micros(ts) div 3600000000"))
    lo, hi = d.agg(F.min("__hb"), F.max("__hb")).first()
    mid = (lo + hi + 1) // 2
    cur = d.where(F.col("__hb") >= mid).drop("__hb").orderBy("ts", "event_id")
    return e, cur


def _stream_rows(spark, tmp_path, cur, sub):
    rows = cur.collect()
    src_dir = str(tmp_path / sub)
    chunk = (len(rows) + 2) // 3
    for i in range(3):
        part = rows[i * chunk : (i + 1) * chunk]
        if part:
            spark.createDataFrame(part, cur.schema).coalesce(1).write.parquet(
                f"{src_dir}/b{i}"
            )
    return (
        spark.readStream.schema(cur.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src_dir}/b*")
    )


def test_stream_w1_by_segment_matches_batch(spark, tmp_path):
    """Keyed instantiation: a stream that consumed exactly the batch
    by-segment query's current-half rows must reproduce every
    (event_type, cohort) W1 row of events_wasserstein_drift_by_segment
    field-exactly."""
    from tsod_spark.queries.round10 import w1_ref_stats
    from tsod_spark.registry import QUERIES
    from tsod_spark.streaming import stream_wasserstein_drift

    e, cur = _halves_with_cohort(spark, SF)
    ref = {
        (r.event_type, r.cohort): (list(r.cents), list(r.counts), r.n_ref)
        for r in w1_ref_stats(e, seg_col="cohort").collect()
    }
    src = _stream_rows(spark, tmp_path, cur, "w1seg_src")
    q = (
        stream_wasserstein_drift(src, ref, seg_col="cohort")
        .writeStream.format("memory")
        .queryName("t_w1_seg")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {}
    for r in spark.sql("SELECT * FROM t_w1_seg").collect():
        k = (r.event_type, r.cohort)
        if k not in got or r.n_cur > got[k].n_cur:
            got[k] = r
    batch = {
        (r.event_type, r.cohort): r
        for r in QUERIES["events_wasserstein_drift_by_segment"](
            spark, SF
        ).collect()
    }
    assert set(got) == set(batch) and len(got) > 0
    for k, b in batch.items():
        s = got[k]
        assert (s.n_ref, s.n_cur) == (b.n_ref, b.n_cur), k
        assert s.w1_value == b.w1_value and s.w1_norm == b.w1_norm, k
        assert bool(s.drift_flag) == bool(b.drift_flag), k
    spark.catalog.clearCache()


def test_stream_ks_by_segment_matches_python_reference(spark, tmp_path):
    """Keyed KS monitor vs a pure-python two-sample KS per
    (event_type, cohort) over exact cent ECDFs."""
    import math

    from tsod_spark.queries.round10 import w1_ref_stats
    from tsod_spark.streaming import stream_ks_drift
    from tsod_spark.util import py_round6

    e, cur = _halves_with_cohort(spark, SF)
    ref = {
        (r.event_type, r.cohort): (list(r.cents), list(r.counts), r.n_ref)
        for r in w1_ref_stats(e, seg_col="cohort").collect()
    }
    rows = cur.collect()
    src = _stream_rows(spark, tmp_path, cur, "ksseg_src")
    q = (
        stream_ks_drift(src, ref, seg_col="cohort")
        .writeStream.format("memory")
        .queryName("t_ks_seg")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {}
    for r in spark.sql("SELECT * FROM t_ks_seg").collect():
        k = (r.event_type, r.cohort)
        if k not in got or r.n_cur > got[k].n_cur:
            got[k] = r

    cur_vals: dict = {}
    for r in rows:
        v = r.value
        if v is None or v != v:
            continue
        vc = (-1 if v < 0 else 1) * int(math.floor(abs(v) * 100 + 0.5))
        k = (r.event_type, r.cohort)
        cur_vals.setdefault(k, {}).setdefault(vc, 0)
        cur_vals[k][vc] += 1
    assert len(got) > 0
    for k, s in got.items():
        rcents, rcounts, n_ref = ref[k]
        cm = cur_vals[k]
        n_cur = sum(cm.values())
        rmap = dict(zip(rcents, rcounts))
        merged = sorted(set(rcents) | set(cm))
        best, best_v = -1, merged[0]
        cr = cc = 0
        for v in merged:
            cr += rmap.get(v, 0)
            cc += cm.get(v, 0)
            num = abs(cr * n_cur - cc * n_ref)
            if num > best:
                best, best_v = num, v
        assert (s.n_ref, s.n_cur) == (n_ref, n_cur), k
        assert s.ks == py_round6(best / (n_ref * n_cur)), k
        assert s.ks_at_cent == best_v, k
    spark.catalog.clearCache()


def test_stream_w1_global_unchanged_by_seg_refactor(spark, tmp_path):
    """The seg_col refactor must leave the GLOBAL twin bit-identical:
    same assertion as test_round10's batch-equivalence, kept here as
    the refactor's regression net."""
    from tsod_spark.queries.round10 import w1_ref_stats
    from tsod_spark.registry import QUERIES
    from tsod_spark.registry import table as rt
    from tsod_spark.streaming import stream_wasserstein_drift

    e = rt(spark, SF, "events")
    ref = {
        r.event_type: (list(r.cents), list(r.counts), r.n_ref)
        for r in w1_ref_stats(e).collect()
    }
    d = e.withColumn("__hb", F.expr("unix_micros(ts) div 3600000000"))
    lo, hi = d.agg(F.min("__hb"), F.max("__hb")).first()
    mid = (lo + hi + 1) // 2
    cur = d.where(F.col("__hb") >= mid).drop("__hb").orderBy("ts", "event_id")
    src = _stream_rows(spark, tmp_path, cur, "w1glob_src")
    q = (
        stream_wasserstein_drift(src, ref)
        .writeStream.format("memory")
        .queryName("t_w1_glob")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {}
    for r in spark.sql("SELECT * FROM t_w1_glob").collect():
        if r.event_type not in got or r.n_cur > got[r.event_type].n_cur:
            got[r.event_type] = r
    batch = {
        r.event_type: r
        for r in QUERIES["events_wasserstein_drift"](spark, SF).collect()
    }
    assert set(got) == set(batch) and len(got) > 0
    for et, b in batch.items():
        s = got[et]
        assert (s.n_ref, s.n_cur, s.w1_value, s.w1_norm) == (
            b.n_ref,
            b.n_cur,
            b.w1_value,
            b.w1_norm,
        ), et
    spark.catalog.clearCache()


def test_source_containment_directional(spark):
    """Directionality: with a 2-doc mirror of a 10-doc origin,
    containment(mirror -> origin) must be 1.0 while
    containment(origin -> mirror) is 0.2; counts distinct per doc."""
    from tsod_spark.pipeline import dedup

    rows = []
    for i in range(10):
        rows.append((i, "origin", f"unique doc {i} alpha beta gamma delta eps{i}"))
    # mirror copies docs 0 and 1 byte-identically (same shingles -> same
    # signature -> candidate pair at any banding)
    rows.append((100, "mirror", rows[0][2]))
    rows.append((101, "mirror", rows[1][2]))
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {
        (r.source_a, r.source_b): r
        for r in dedup.source_containment(df).collect()
    }
    m2o = got[("mirror", "origin")]
    assert (m2o.docs_contained, m2o.docs_total) == (2, 2)
    assert m2o.containment == 1.0
    o2m = got[("origin", "mirror")]
    assert (o2m.docs_contained, o2m.docs_total) == (2, 10)
    assert o2m.containment == 0.2
    spark.catalog.clearCache()


# ---------------------------------------------------------------------------
# bench.py self-adjudication (VERDICT r10 #4) — pure-python pieces


def _bench_mod():
    import importlib.util
    import os

    path = os.path.join(os.path.dirname(os.path.dirname(__file__)), "bench.py")
    spec = importlib.util.spec_from_file_location("bench_for_test", path)
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    return m


def test_bench_flag_excursions():
    m = _bench_mod()
    prior = {"a": 2.0, "b": 0.2, "c": 4.0, "new": None}
    prior = {k: v for k, v in prior.items() if v is not None}
    timings = {
        "a": 5.1,    # 2.55x prior and >1s -> flagged
        "b": 0.9,    # 4.5x prior but under the 1s floor -> not flagged
        "c": 9.9,    # 2.475x prior -> under the factor -> not flagged
        "new": 50.0, # no prior -> not flagged
    }
    assert m._flag_excursions(timings, prior) == ["a"]
    # factor/floor are parameters
    assert m._flag_excursions(timings, prior, factor=2.0) == ["a", "c"]
    assert m._flag_excursions(timings, prior, floor=0.5) == ["a", "b"]


def test_bench_prior_snapshot_reads_latest_round():
    m = _bench_mod()
    prior = m._prior_snapshot()
    # BENCH_local_r10.json exists in-repo; the loader must find a
    # non-empty per-query dict with float values
    assert prior and all(isinstance(v, (int, float)) for v in prior.values())


def test_psi_drift_single_segment_reduces_to_global(spark):
    from tsod_spark.queries.round9 import psi_drift
    from tsod_spark.registry import table

    e = table(spark, SF, "events")
    glob = psi_drift(e).collect()
    seg = psi_drift(
        e.withColumn("cohort", F.lit(0)), seg_col="cohort"
    ).collect()
    assert len(glob) == len(seg) > 0
    for g, s in zip(glob, seg):
        assert s.cohort == 0
        assert (s.event_type, s.n_ref, s.n_cur, s.psi, s.drift_flag) == (
            g.event_type,
            g.n_ref,
            g.n_cur,
            g.psi,
            g.drift_flag,
        )


def test_psi_by_segment_is_segment_local(spark):
    """A hard value shift injected into cohort 1's second half must
    flag cohort 1 and leave cohort 0 quiet (segment-local deciles)."""
    import datetime

    from tsod_spark.queries.round9 import psi_drift

    base = datetime.datetime(2024, 1, 1)
    rows = []
    for i in range(800):
        hour = i % 20
        cohort = i % 2
        if hour >= 10 and cohort == 1:
            v = 500.0 + (i % 7)
        else:
            v = 1.0 + (i % 10) * 0.5
        rows.append(
            ("a", cohort, base + datetime.timedelta(hours=hour, seconds=i % 60), v)
        )
    e = spark.createDataFrame(
        rows, "event_type string, cohort int, ts timestamp, value double"
    )
    out = {r.cohort: r for r in psi_drift(e, seg_col="cohort").collect()}
    assert out[1].drift_flag and out[1].psi > 0.5
    assert not out[0].drift_flag and out[0].psi < 0.05


def test_stream_psi_by_segment_matches_batch(spark, tmp_path):
    """Keyed PSI monitor: a stream that consumed exactly the batch
    by-segment query's current-half rows reproduces every
    (event_type, cohort) row of events_psi_drift_by_segment exactly."""
    from tsod_spark.queries.round9 import psi_ref_stats
    from tsod_spark.registry import QUERIES
    from tsod_spark.streaming import stream_psi_drift

    e, cur = _halves_with_cohort(spark, SF)
    ref = {
        (r.event_type, r.cohort): (
            list(r.bounds),
            list(r.ref_counts),
            r.n_ref,
        )
        for r in psi_ref_stats(e, seg_col="cohort").collect()
    }
    src = _stream_rows(spark, tmp_path, cur, "psiseg_src")
    q = (
        stream_psi_drift(src, ref, seg_col="cohort")
        .writeStream.format("memory")
        .queryName("t_psi_seg")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {}
    for r in spark.sql("SELECT * FROM t_psi_seg").collect():
        k = (r.event_type, r.cohort)
        if k not in got or r.n_cur > got[k].n_cur:
            got[k] = r
    batch = {
        (r.event_type, r.cohort): r
        for r in QUERIES["events_psi_drift_by_segment"](spark, SF).collect()
    }
    assert set(got) == set(batch) and len(got) > 0
    for k, b in batch.items():
        s = got[k]
        assert (s.n_ref, s.n_cur, s.psi) == (b.n_ref, b.n_cur, b.psi), k
        assert bool(s.drift_flag) == bool(b.drift_flag), k
    spark.catalog.clearCache()


def test_canonicalization_curve_monotone_and_exact(spark):
    """Tier coarsening: n_dup_docs/dup_pairs nondecreasing,
    n_distinct_contents nonincreasing; counts match a pure-python
    recount on a corpus exercising every tier boundary."""
    from collections import Counter

    from tsod_spark.pipeline import dedup

    rows = [
        (0, "s0", "Alpha beta"),
        (1, "s0", "Alpha beta"),        # raw dup of 0
        (2, "s0", "Alpha  beta"),       # whitespace dup of 0
        (3, "s0", "alpha beta"),        # case dup of 0
        (4, "s0", "beta alpha"),        # multiset dup of 0 (reorder)
        (5, "s0", "beta alpha alpha"),  # set dup of 0 (repetition)
        (6, "s0", "gamma"),             # unique at every tier
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = dedup.canonicalization_curve(df).collect()
    assert [r.tier for r in out] == [
        "raw", "whitespace", "lowercase", "token_multiset", "token_set",
    ]

    def canon(t, rank):
        if rank == 1:
            return t
        ws = " ".join(x for x in t.split() if x)
        if rank == 2:
            return ws
        lo = ws.lower()
        if rank == 3:
            return lo
        if rank == 4:
            return " ".join(sorted(lo.split(" ")))
        return " ".join(sorted(set(lo.split(" "))))

    prev_dup, prev_distinct = -1, 10**9
    for r in out:
        forms = Counter(canon(t, r.tier_rank) for _, _, t in rows)
        assert r.n_docs == len(rows)
        assert r.n_distinct_contents == len(forms)
        assert r.n_dup_docs == len(rows) - len(forms)
        assert r.n_dup_groups == sum(1 for n in forms.values() if n >= 2)
        assert r.dup_pairs == sum(n * (n - 1) // 2 for n in forms.values())
        assert r.n_dup_docs >= prev_dup and r.n_distinct_contents <= prev_distinct
        prev_dup, prev_distinct = r.n_dup_docs, r.n_distinct_contents
    # every tier boundary exercised: dup docs strictly increase 1,2,3,4,5
    assert [r.n_dup_docs for r in out] == [1, 2, 3, 4, 5]


# ---------------------------------------------------------------------------
# Registry rotation invariants (the driver checks the FIRST 50 names of
# ordered_queries per round — a silent ordering regression would burn a
# whole driver round re-verifying the wrong tier)


def test_rotation_window_invariants():
    from tsod_spark import registry

    names = list(registry.ordered_queries())
    assert len(names) == len(registry.QUERIES)
    assert set(names) == set(registry.QUERIES)
    latest = registry._latest_verified_rounds()

    def due(n):
        return latest.get(n, 0) < registry.CHANGED.get(n, 1)

    # 1. names without a verdict on their current code (never verified,
    #    or changed since their latest verdict) lead the order
    n_due = sum(map(due, names))
    assert all(due(n) for n in names[:n_due])
    assert not any(due(n) for n in names[n_due:])
    # 2. the rest appear stalest verdict first
    rest = [latest[n] for n in names[n_due:]]
    assert rest == sorted(rest)
    # 3. registration order holds within each tier
    reg = {n: i for i, n in enumerate(registry.QUERIES)}
    tier = {n: 0 if due(n) else latest[n] for n in names}
    assert names == sorted(names, key=lambda n: (tier[n], reg[n]))


def test_ks_by_segment_degenerate_population_refused(spark):
    """A segment whose rows all share one event_type has an empty
    'rest' population — the two-sample test is undefined there and the
    row must be REFUSED (dropped), not emitted as ks=NaN with a
    spurious drift flag (NaN sorts greatest in Spark)."""
    import datetime

    from tsod_spark.analytics import stattests

    base = datetime.datetime(2024, 1, 1)
    rows = []
    for i in range(40):
        # cohort 0: two types (testable); cohort 1: ONLY type 'a'
        cohort = i % 2
        et = "a" if cohort == 1 else ("a" if i % 4 == 0 else "b")
        rows.append((et, cohort, base + datetime.timedelta(minutes=i), float(i % 7)))
    e = spark.createDataFrame(
        rows, "event_type string, cohort int, ts timestamp, value double"
    )
    out = stattests.ks_drift(e, seg_col="cohort").collect()
    assert all((r.cohort, r.event_type) != (1, "a") for r in out)
    got0 = {r.event_type for r in out if r.cohort == 0}
    assert got0 == {"a", "b"}
    for r in out:
        assert r.ks == r.ks  # no NaN escapes


def test_keyed_monitor_rejects_mismatched_ref_shape(spark):
    """A global string-keyed reference passed to a keyed monitor (or
    vice versa) must raise at construction, not emit nothing forever."""
    import pytest as _pytest

    from tsod_spark.streaming import (
        stream_ks_drift,
        stream_psi_drift,
        stream_wasserstein_drift,
    )

    src = (
        spark.readStream.format("rate").option("rowsPerSecond", "1").load()
        .selectExpr("'a' AS event_type", "CAST(0 AS INT) AS cohort",
                    "CAST(value AS DOUBLE) AS value")
    )
    glob_w1 = {"a": ([100], [1], 1)}
    seg_w1 = {("a", 0): ([100], [1], 1)}
    glob_psi = {"a": ([0.5] * 9, [1] * 10, 10)}
    seg_psi = {("a", 0): ([0.5] * 9, [1] * 10, 10)}
    for fn, glob, seg in (
        (stream_wasserstein_drift, glob_w1, seg_w1),
        (stream_ks_drift, glob_w1, seg_w1),
        (stream_psi_drift, glob_psi, seg_psi),
    ):
        with _pytest.raises(ValueError, match="tuple"):
            fn(src, glob, seg_col="cohort")
        with _pytest.raises(ValueError, match="seg_col"):
            fn(src, seg)
        # correct shapes construct fine
        fn(src, seg, seg_col="cohort")
        fn(src, glob)
