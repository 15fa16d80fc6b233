"""Round-14 tests: persisted RESIDUAL IVF+PQ serving (#2), the
cell-block certificate's sampled-twin regime (#3), image near-dup
dedup (#5), multi-probe cell blocking (#6), the persisted-index
content-fingerprint staleness gate (#7), and the second wave: the
index MAINTENANCE lifecycle (frozen-encode append, tombstone delete,
compaction), audio + video near-dup over the shared Hamming engine,
the streaming Hamming screen, and hybrid RRF retrieval."""

SF = "/root/testdata/sf0.001"


# --- VERDICT r13 #2: persisted RESIDUAL IVF+PQ serving ---------------


def _build_residual_index(spark, tmp_path):
    from tsod_spark.pipeline import similarity
    from tsod_spark.registry import table

    emb = table(spark, SF, "embeddings")
    path = str(tmp_path / "ivfpq-residual")
    meta = similarity.ivfpq_index_write(emb, path, encoding="residual")
    return emb, path, meta


def test_residual_write_schema_compatible(spark, tmp_path):
    """The r13 docstring CLAIMED the residual build's output schema
    matches the flat build so ivfpq_index_write applies unchanged —
    prove it: the residual index persists through the same writer into
    the same cell-partitioned layout, round-trips through the same
    loader, and its metadata records the encoding."""
    import json
    import os

    emb, path, meta = _build_residual_index(spark, tmp_path)
    from tsod_spark.pipeline import similarity

    cells = sorted(
        d for d in os.listdir(os.path.join(path, "codes"))
        if d.startswith("cell=")
    )
    assert len(cells) == 16
    on_disk = json.load(open(os.path.join(path, "meta.json")))
    assert on_disk["encoding"] == "residual"
    assert on_disk["format_version"] == 1
    codes, meta2 = similarity.ivfpq_index_load(spark, path)
    assert meta2 == on_disk
    assert codes.count() == emb.count()
    assert set(codes.columns) >= {"vec_id", "cell", "codes", "distortion"}


def test_residual_persisted_probe_scan_prunes_partitions(spark, tmp_path):
    """The residual serve path inherits the flat path's partition
    pruning (shared codes layout): PartitionFilters carries exactly
    the probed cells and input_file_name() proves only those cell
    directories are opened."""
    import re

    from pyspark.sql import functions as F

    from tsod_spark.pipeline import similarity

    emb, path, _ = _build_residual_index(spark, tmp_path)
    codes, meta = similarity.ivfpq_index_load(spark, path)
    q = similarity._query_vector(emb, 0, "embedding")
    for n_probe in (1, 4, 6):
        probe = similarity._nearest_cells(q, meta["centroids"], n_probe)
        scan = codes.where(F.col("cell").isin(probe)).select(
            "vec_id", "cell", "codes"
        )
        expect = set(map(str, probe))
        plan = scan._sc._jvm.PythonSQLUtils.explainString(
            scan._jdf.queryExecution(), "formatted"
        )
        pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
        assert pf, plan
        m = re.search(r"cell#\d+ IN \(([\d,]+)\)", pf.group(1)) or re.search(
            r"\(cell#\d+ = (\d+)\)", pf.group(1)
        )
        assert m, plan
        assert set(m.group(1).split(",")) == expect
        assert "(2) Filter" not in plan
        touched = {
            re.search(r"cell=(\d+)", r[0]).group(1)
            for r in scan.select(F.input_file_name()).distinct().collect()
        }
        assert touched == expect, (n_probe, touched, expect)


def test_residual_persisted_topk_matches_in_plan(spark, tmp_path):
    """Differential (VERDICT r13 #2 done-criterion): the persisted
    residual serve path returns row-for-row the in-plan
    ivfpq_residual_topk result at identical params/seed — both rank
    through the shared _residual_adc_topk plan over the same fused
    build's codes."""
    from tsod_spark.pipeline import similarity

    emb, path, _ = _build_residual_index(spark, tmp_path)
    served = similarity.ivfpq_residual_persisted_topk(
        spark, path, emb, n_probe=6
    ).collect()
    in_plan = similarity.ivfpq_residual_topk(emb, n_probe=6).collect()
    assert [r.asDict() for r in served] == [r.asDict() for r in in_plan]
    assert len(served) == 10


def test_encoding_mismatch_refused(spark, tmp_path):
    """Serving an index with the wrong-encoding path must refuse:
    flat ADC tables over residual codes (or residual tables over flat
    codes) return garbage distances, not an error, so the guard is the
    only protection."""
    import pytest

    from tsod_spark.pipeline import similarity
    from tsod_spark.registry import table

    emb = table(spark, SF, "embeddings")
    rpath = str(tmp_path / "res")
    fpath = str(tmp_path / "flat")
    similarity.ivfpq_index_write(emb, rpath, encoding="residual")
    similarity.ivfpq_index_write(emb, fpath, encoding="flat")
    with pytest.raises(ValueError, match="residual"):
        similarity.ivfpq_persisted_topk(spark, rpath, emb)
    with pytest.raises(ValueError, match="flat"):
        similarity.ivfpq_residual_persisted_topk(spark, fpath, emb)


def test_fingerprint_gate_identical_mtime_rebuilds(spark, tmp_path,
                                                   monkeypatch):
    """VERDICT r13 #7 done-criterion: a REGENERATED fixture whose
    embeddings parquet carries an IDENTICAL mtime (clock skew, archive
    extraction) still triggers a rebuild — the gate compares content
    fingerprints, not timestamps. Also: two fixture roots sharing a
    basename get distinct cache slots (ADVICE r13)."""
    import os
    import shutil

    from tsod_spark.queries import round13

    monkeypatch.setattr(round13, "_INDEX_ROOT", str(tmp_path / "root"))
    # clone the fixture so we can regenerate its embeddings file
    fix_a = tmp_path / "fixtures" / "a" / "sfX"
    fix_b = tmp_path / "fixtures" / "b" / "sfX"  # same basename
    for fix in (fix_a, fix_b):
        fix.mkdir(parents=True)
        shutil.copy(
            os.path.join(SF, "embeddings.parquet"),
            fix / "embeddings.parquet",
        )
    p_a = round13.persisted_index_path(spark, str(fix_a))
    p_b = round13.persisted_index_path(spark, str(fix_b))
    assert p_a != p_b  # same basename, distinct slots

    # "regenerate" fixture a: different content, same mtime
    src = fix_a / "embeddings.parquet"
    st = os.stat(src)
    import duckdb

    duckdb.sql(
        f"COPY (SELECT vec_id, embedding, label FROM "
        f"'{os.path.join(SF, 'embeddings.parquet')}' WHERE vec_id < 400) "
        f"TO '{src}' (FORMAT PARQUET)"
    )
    os.utime(src, (st.st_atime, st.st_mtime))  # identical mtime
    import json

    fp_before = json.load(open(os.path.join(p_a, "meta.json")))[
        "source_fingerprint"
    ]
    round13.persisted_index_path(spark, str(fix_a))
    fp_after = json.load(open(os.path.join(p_a, "meta.json")))[
        "source_fingerprint"
    ]
    assert fp_after != fp_before  # rebuild fired on content change


# --- VERDICT r13 #3: cell-block certificate sampled regime -----------


def test_cell_block_regime_boundary(spark, tmp_path):
    """Above exact_max_vectors the exact certificate must refuse
    (naming the sampled path) unless auto_sample delegates; the
    sampled row keeps the schema, reports the FULL corpus n_vectors,
    and its candidate-volume certificate is identical to the exact
    regime's (that side is never sampled)."""
    import pytest

    from tsod_spark.pipeline import similarity
    from tsod_spark.registry import table

    emb = table(spark, SF, "embeddings")  # 500 vectors
    # cells from a tiny in-plan build (16 cells, seeded)
    assigned, _cents, _books = similarity.ivfpq_index_build(emb)
    cells = assigned.select("vec_id", "cell").cache()
    cells.count()

    exact = similarity.embedding_cell_block_stats(emb, cells).collect()[0]

    with pytest.raises(ValueError, match="sampled"):
        similarity.embedding_cell_block_stats(
            emb, cells, exact_max_vectors=100
        )

    sampled = similarity.embedding_cell_block_stats(
        emb, cells, exact_max_vectors=100, auto_sample=True
    ).collect()[0]
    assert set(sampled.asDict()) == set(exact.asDict())
    assert sampled["n_vectors"] == exact["n_vectors"] == 500
    # candidate side is exact in both regimes -> identical verdict
    assert sampled["candidate_ratio_ok"] == exact["candidate_ratio_ok"]
    # the sampled exact-pair count is bounded by the C(cap,2) envelope
    # and strictly smaller than the full count at this fixture
    assert 0 <= sampled["n_exact_pairs"] < exact["n_exact_pairs"]
    cells.unpersist()


def test_cell_block_sample_deterministic_and_capped(spark):
    """The stratified sample is content-deterministic (same fixture ->
    same sampled exact-pair count across invocations) and the driver
    matrix guard in _exact_cosine_pairs enforces the cap."""
    import pytest

    from tsod_spark.pipeline import similarity
    from tsod_spark.registry import table

    emb = table(spark, SF, "embeddings")
    assigned, _c, _b = similarity.ivfpq_index_build(emb)
    cells = assigned.select("vec_id", "cell").cache()
    cells.count()
    r1 = similarity.embedding_cell_block_stats_sampled(
        emb, cells, sample_max_vectors=120
    ).collect()[0]
    r2 = similarity.embedding_cell_block_stats_sampled(
        emb, cells, sample_max_vectors=120
    ).collect()[0]
    assert r1.asDict() == r2.asDict()
    # guard: feeding more vectors than the bound raises, not collects
    with pytest.raises(ValueError, match="driver-matrix bound"):
        similarity._exact_cosine_pairs(emb, 0.3, "embedding", 100)
    cells.unpersist()


# --- VERDICT r13 #6: multi-probe cell blocking ------------------------


def test_multiprobe_coverage_strictly_improves_on_planted_boundary(spark):
    """VERDICT r13 #6 done-criterion: on a planted fixture where
    near-dup twins straddle a cell boundary (each twin's top-1 cell
    differs but their top-2 sets intersect), coverage(2) >
    coverage(1); candidates grow with p; the same-cell p=1 pair is
    still caught at both levels."""
    from tsod_spark.pipeline import similarity

    cents = [[0.0, 0.0], [10.0, 0.0], [0.0, 10.0], [10.0, 10.0]]
    rows = [
        # boundary-straddling twin pair: top-1 cells c0 vs c1,
        # top-2 sets both {c0, c1}
        (0, [4.9, 0.0]),
        (1, [5.1, 0.0]),
        # same-cell pair in c2 (caught already at p=1)
        (2, [0.1, 9.0]),
        (3, [0.2, 9.5]),
        # a lone far vector in c3 (no near-dup: opposite-ish direction)
        (4, [10.0, 10.0]),
    ]
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<float>",
    )
    got = {
        r["n_probe"]: r
        for r in similarity.embedding_multiprobe_stats(
            emb, cents, probes=(1, 2), min_cosine=0.9
        ).collect()
    }
    assert got[1]["n_exact_pairs"] == got[2]["n_exact_pairs"] > 0
    assert got[2]["coverage"] > got[1]["coverage"]
    assert got[2]["n_blocked_pairs"] > got[1]["n_blocked_pairs"]
    assert got[2]["n_candidates"] >= got[1]["n_candidates"]
    # the straddling pair (0,1) is exactly the p=2-only catch
    assert got[2]["n_blocked_pairs"] - got[1]["n_blocked_pairs"] >= 1


def test_multiprobe_rank1_tags_equal_stored_cells(spark):
    """The certificate's 'rank-1 tags equal the stored cells' claim:
    the tag kernel's top-1 assignment must agree exactly with the
    fused build's cell column on the fixture corpus (same subtraction
    d2 + lowest-cell-id tie order as _nearest_cells)."""
    from tsod_spark.pipeline import similarity
    from tsod_spark.registry import table

    emb = table(spark, SF, "embeddings")
    assigned, cents, _books = similarity.ivfpq_index_build(emb)
    tags1 = similarity.embedding_multiprobe_tags(emb, cents, 1).select(
        "vec_id", "cell"
    )
    mismatch = (
        assigned.select("vec_id", "cell")
        .join(tags1.withColumnRenamed("cell", "tcell"), "vec_id")
        .where("cell <> tcell")
        .count()
    )
    assert mismatch == 0


# --- VERDICT r13 #5: image near-dup dedup -----------------------------


def test_dhash_invariances_on_planted_twins(spark):
    """The dHash integer-invariance argument, verified: a twin that is
    2x-upscaled + brightness-shifted + re-encoded lands at EXACTLY the
    base's fingerprint (Hamming 0), while distinct textures differ."""
    from pyspark.sql import functions as F

    from tsod_spark.pipeline import multimodal

    ids = spark.range(0, 30).select(F.col("id").alias("doc_id"))
    assets = multimodal.synthetic_textured_assets(ids)
    fps = {
        r["asset_id"]: r["dhash"]
        for r in multimodal.image_dhash(assets).collect()
    }
    assert len(fps) == 30
    for i in range(30):
        if i % 5 == 1:
            assert fps[i] == fps[i - 1], i  # planted twin: hamming 0
    # distinct textures produce distinct fingerprints here
    bases = [fps[i] for i in range(30) if i % 5 != 1]
    assert len(set(bases)) == len(bases)


def test_hamming_blocked_equals_exact_all_pairs(spark):
    """Blocked-vs-exact recall certificate (pigeonhole full recall,
    differential): the banded hamming_near_pairs output equals the
    brute-force all-pairs join at the same radius — recall 1.0, not
    probabilistic."""
    from pyspark.sql import functions as F

    from tsod_spark.pipeline import dedup, multimodal
    from tsod_spark.registry import table

    docs = table(spark, SF, "documents").select("doc_id").limit(200)
    fps = multimodal.image_dhash(
        multimodal.synthetic_textured_assets(docs)
    ).cache()
    fps.count()
    blocked = sorted(
        (r.id_a, r.id_b, r.hamming)
        for r in dedup.hamming_near_pairs(
            fps, id_col="asset_id", fp_col="dhash", bits=64, max_hamming=3
        ).collect()
    )
    a, b = fps.alias("a"), fps.alias("b")
    ham = F.bit_count(
        F.col("a.dhash").bitwiseXOR(F.col("b.dhash"))
    ).cast("long")
    exact = sorted(
        (r.id_a, r.id_b, r.hamming)
        for r in a.join(
            b, F.col("a.asset_id") < F.col("b.asset_id")
        )
        .select(
            F.col("a.asset_id").alias("id_a"),
            F.col("b.asset_id").alias("id_b"),
            ham.alias("hamming"),
        )
        .where(F.col("hamming") <= 3)
        .collect()
    )
    assert blocked == exact and len(blocked) > 0
    fps.unpersist()


def test_hamming_near_pairs_bit63_fingerprints(spark):
    """The 64-bit engine must bucket NEGATIVE int64 fingerprints
    (bit 63 set) correctly — the low chunk extracts with a logical
    shift + AND mask, not `%` (whose sign-following would send the
    c=0 chunk of a negative fingerprint to a different bucket than
    the same bits in a positive one)."""
    from tsod_spark.pipeline import dedup

    # fp1/fp2 differ ONLY in bit 63 (hamming 1): pigeonhole must
    # catch them via the three agreeing low chunks
    fp1 = -(1 << 63)          # 0x8000...0
    fp2 = 0                   # 0x0000...0
    # fp3/fp4: negative pair differing in one low bit
    fp3 = -(1 << 63) | 5
    fp4 = -(1 << 63) | 4
    fps = spark.createDataFrame(
        [(1, fp1), (2, fp2), (3, fp3), (4, fp4)],
        "doc_id long, fingerprint long",
    )
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in dedup.hamming_near_pairs(fps, max_hamming=3).collect()
    }
    assert got[(1, 2)] == 1
    assert got[(3, 4)] == 1
    assert got[(1, 3)] == 2  # bit0+bit2


# --- persisted-index MAINTENANCE: frozen-encode append + tombstones --


def test_frozen_encode_reproduces_build_codes_both_encodings(
    spark, tmp_path
):
    """ivfpq_encode_frozen is the build kernel minus training: frozen-
    encoding the build's own corpus must reproduce the stored codes
    BIT-FOR-BIT for both code spaces (flat and residual) — the
    property that makes an append a pure extension of the index
    rather than a second, subtly different quantization."""
    from pyspark.sql import functions as F

    from tsod_spark.pipeline import similarity
    from tsod_spark.registry import table

    emb = table(spark, SF, "embeddings")
    for enc in ("flat", "residual"):
        path = str(tmp_path / f"frozen-{enc}")
        similarity.ivfpq_index_write(emb, path, encoding=enc)
        codes, meta = similarity.ivfpq_index_load(spark, path)
        stored = {
            r["vec_id"]: (r["cell"], tuple(r["codes"]))
            for r in codes.collect()
        }
        again = {
            r["vec_id"]: (r["cell"], tuple(r["codes"]))
            for r in similarity.ivfpq_encode_frozen(emb, meta).collect()
        }
        assert stored == again, enc


def test_append_only_touches_receiving_cells(spark, tmp_path):
    """The FAISS `add` contract on disk: an append adds files ONLY
    under the cells that received new vectors; every other cell
    directory's file listing is byte-identical before and after —
    the property that makes incremental cost track the batch, not
    the corpus."""
    import os

    from pyspark.sql import functions as F

    from tsod_spark.pipeline import similarity
    from tsod_spark.registry import table

    emb = table(spark, SF, "embeddings")
    base = emb.where(F.col("vec_id") % 10 != 7)
    new = emb.where(F.col("vec_id") % 10 == 7)
    path = str(tmp_path / "append-demo")
    similarity.ivfpq_index_write(base, path)

    def listing():
        out = {}
        codes_dir = os.path.join(path, "codes")
        for d in os.listdir(codes_dir):
            if d.startswith("cell="):
                out[d] = sorted(
                    f for f in os.listdir(os.path.join(codes_dir, d))
                    if f.endswith(".parquet")
                )
        return out

    before = listing()
    meta0 = similarity._read_index_meta(path)
    touched = {
        int(r["cell"])
        for r in similarity.ivfpq_encode_frozen(new, meta0)
        .select("cell").distinct().collect()
    }
    meta = similarity.ivfpq_index_append(spark, path, new)
    after = listing()
    assert meta["generation"] == 2
    assert meta["appended_rows"] == new.count()
    for d, files in before.items():
        cell = int(d.split("=")[1])
        if cell not in touched:
            assert after[d] == files, f"untouched {d} was rewritten"
    for cell in touched:
        assert len(after[f"cell={cell}"]) > len(
            before.get(f"cell={cell}", [])
        )
    codes, _ = similarity.ivfpq_index_load(spark, path)
    assert codes.count() == emb.count()


def test_tombstones_excluded_and_pruning_survives(spark, tmp_path):
    """Deletes are logical: tombstoned ids vanish from the loaded scan
    (broadcast anti-join), and the probe's partition pruning still
    reaches the codes FileScan — PartitionFilters carries the probed
    cells with the anti-join in the plan."""
    from pyspark.sql import functions as F

    from tsod_spark.pipeline import similarity
    from tsod_spark.registry import table

    emb = table(spark, SF, "embeddings")
    path = str(tmp_path / "delete-demo")
    similarity.ivfpq_index_write(emb, path)
    dele = emb.where(F.col("vec_id") % 37 == 5).select("vec_id")
    meta = similarity.ivfpq_index_delete(spark, path, dele)
    assert meta["generation"] == 2
    assert meta["tombstone_rows"] == dele.count()

    codes, m = similarity.ivfpq_index_load(spark, path)
    got = {r["vec_id"] for r in codes.select("vec_id").collect()}
    want = {
        r["vec_id"]
        for r in emb.where(F.col("vec_id") % 37 != 5)
        .select("vec_id").collect()
    }
    assert got == want

    scan = similarity.ivfpq_probe_scan(codes, m, m["centroids"][0], 3)
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [cell" in plan and " IN " in plan
    assert "LeftAnti" in plan and "Broadcast" in plan


def test_delete_accepts_id_iterables(spark, tmp_path):
    from tsod_spark.pipeline import similarity
    from tsod_spark.registry import table

    emb = table(spark, SF, "embeddings")
    path = str(tmp_path / "delete-iter")
    similarity.ivfpq_index_write(emb.limit(50), path)
    similarity.ivfpq_index_delete(spark, path, [1, 2, 3])
    meta = similarity.ivfpq_index_delete(spark, path, [3, 4])
    # appends accumulate (3 re-deleted: tombstones table dedups at load)
    assert meta["tombstone_rows"] == 5
    assert meta["generation"] == 3
    codes, _ = similarity.ivfpq_index_load(spark, path)
    got = {r["vec_id"] for r in codes.select("vec_id").collect()}
    assert got.isdisjoint({1, 2, 3, 4})


def test_upsert_demo_gate_rebuilds_on_incomplete(spark, tmp_path,
                                                 monkeypatch):
    """Crash-safety: the `upsert_demo_complete` flag is written only
    after the last lifecycle step, so a slot missing it (crash between
    build and delete) is rebuilt from scratch; a complete slot is
    reused without touching the codes."""
    import json
    import os

    from tsod_spark.queries import round14

    monkeypatch.setattr(round14, "_INDEX_ROOT", str(tmp_path / "slots"))
    p1 = round14.upsert_demo_index_path(spark, SF)
    meta_path = os.path.join(p1, "meta.json")
    with open(meta_path) as f:
        meta = json.load(f)
    assert meta["upsert_demo_complete"] and meta["generation"] == 3
    mtime = os.path.getmtime(meta_path)
    # complete slot: reused, nothing rewritten
    assert round14.upsert_demo_index_path(spark, SF) == p1
    assert os.path.getmtime(meta_path) == mtime
    # simulate a crash mid-lifecycle: flag absent -> full rebuild
    del meta["upsert_demo_complete"]
    with open(meta_path, "w") as f:
        json.dump(meta, f)
    round14.upsert_demo_index_path(spark, SF)
    with open(meta_path) as f:
        meta2 = json.load(f)
    assert meta2["upsert_demo_complete"] and meta2["generation"] == 3


def test_upsert_topk_certificate_row(spark):
    """The served top-k over the lifecycle index: full 10 rows, recall
    certified, and NOT ONE tombstoned id survives serving."""
    from tsod_spark.queries.round14 import emb_ivfpq_upsert_topk

    rows = emb_ivfpq_upsert_topk(spark, SF).collect()
    assert len(rows) == 10
    assert all(r["recall_ok"] for r in rows)
    assert all(r["no_tombstoned"] for r in rows)
    assert all(r["vec_id"] % 37 != 5 for r in rows)


# --- audio near-dup: energy fingerprint x the shared Hamming engine -


def test_audio_fingerprint_invariances_on_planted_twins(spark):
    """The energy-difference hash is EXACTLY invariant to the three
    planted transforms (2x gain, aligned 2x sample-repeat, rate-header
    re-encode): every twin pair collides at Hamming 0, and unrelated
    clips stay far apart."""
    from pyspark.sql import functions as F

    from tsod_spark.pipeline import multimodal

    ids = spark.range(0, 40).select(F.col("id").alias("doc_id"))
    fps = multimodal.audio_energy_fingerprint(
        multimodal.synthetic_audio_assets(ids)
    )
    got = {r["asset_id"]: r["afp"] for r in fps.collect()}
    assert len(got) == 40
    for i in range(40):
        if i % 5 == 1:
            assert got[i] == got[i - 1], f"twin {i} not at Hamming 0"
    # unrelated adjacent pairs: far apart (the 2e-15 chance-collision
    # arithmetic in the query docstring)
    import numpy as np

    def ham(a, b):
        return bin(np.uint64(a ^ b) if a >= 0 and b >= 0 else
                   (int(np.uint64(a) ^ np.uint64(b)))).count("1")

    for i in range(2, 40):
        if i % 5 != 1:
            h = bin(int(np.uint64(got[i]) ^ np.uint64(got[i - 1]))).count("1")
            assert h > 3, (i, h)


def test_audio_blocked_equals_exact_all_pairs(spark):
    """Pigeonhole full recall holds for the audio fingerprints too:
    the banded engine's pairs equal the brute-force all-pairs
    Hamming<=3 join on the same fingerprint frame."""
    from pyspark.sql import functions as F

    from tsod_spark.pipeline import dedup, multimodal

    ids = spark.range(0, 60).select(F.col("id").alias("doc_id"))
    fps = multimodal.audio_energy_fingerprint(
        multimodal.synthetic_audio_assets(ids)
    ).cache()
    try:
        blocked = {
            (r["id_a"], r["id_b"], r["hamming"])
            for r in dedup.hamming_near_pairs(
                fps, id_col="asset_id", fp_col="afp",
                bits=64, max_hamming=3,
            ).collect()
        }
        a = fps.select(
            F.col("asset_id").alias("id_a"), F.col("afp").alias("fa")
        )
        b = fps.select(
            F.col("asset_id").alias("id_b"), F.col("afp").alias("fb")
        )
        exact = {
            (r["id_a"], r["id_b"], r["h"])
            for r in a.crossJoin(b)
            .where(F.col("id_a") < F.col("id_b"))
            .withColumn(
                "h", F.bit_count(F.col("fa").bitwiseXOR(F.col("fb")))
            )
            .where(F.col("h") <= 3)
            .collect()
        }
        assert blocked == exact and len(blocked) > 0
    finally:
        fps.unpersist()


def test_stream_hamming_screen_matches_batch(spark, tmp_path):
    """Continuous perceptual-hash dedup equals the batch pair engine:
    streaming the corpus' own fingerprints (3 micro-batches) against
    the frozen chunk index reproduces EXACTLY hamming_near_pairs'
    pair set with hamming values, as directed (asset, match) rows."""
    from pyspark.sql import functions as F

    from tsod_spark.pipeline import dedup, multimodal
    from tsod_spark.streaming import stream_hamming_screen

    ids = spark.range(0, 60).select(F.col("id").alias("doc_id"))
    fps = multimodal.image_dhash(
        multimodal.synthetic_textured_assets(ids)
    ).cache()
    try:
        batch_pairs = dedup.hamming_near_pairs(
            fps, id_col="asset_id", fp_col="dhash",
            bits=64, max_hamming=3,
        ).collect()
        want = set()
        for r in batch_pairs:
            want.add((r["id_a"], r["id_b"], r["hamming"]))
            want.add((r["id_b"], r["id_a"], r["hamming"]))

        index = dedup.hamming_chunk_index(
            fps, id_col="asset_id", fp_col="dhash",
            bits=64, max_hamming=3,
        ).cache()
        rows = fps.orderBy("asset_id").collect()
        chunk = (len(rows) + 2) // 3
        for i in range(3):
            part = rows[i * chunk : (i + 1) * chunk]
            if part:
                spark.createDataFrame(
                    part, "asset_id long, dhash long"
                ).coalesce(1).write.parquet(
                    str(tmp_path / f"fp_{i}"), mode="overwrite"
                )
        src = (
            spark.readStream.schema("asset_id long, dhash long")
            .option("maxFilesPerTrigger", "1")
            .parquet(str(tmp_path / "fp_*"))
        )
        q = (
            stream_hamming_screen(
                src, index, id_col="asset_id", fp_col="dhash",
                bits=64, max_hamming=3,
            )
            .writeStream.format("memory")
            .queryName("t_ham_screen")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {
            (r["asset_id"], r["match_id"], r["hamming"])
            for r in spark.sql(
                "SELECT asset_id, match_id, min(hamming) AS hamming "
                "FROM t_ham_screen GROUP BY asset_id, match_id"
            ).collect()
        }
        assert got == want and len(got) > 0
    finally:
        fps.unpersist()


# --- video near-dup: frame vote over the shared Hamming engine ------


def test_video_frame_vote_sees_through_temporal_trim(spark):
    """The planted twins are temporally TRIMMED (7 of 8 frames), so a
    whole-payload fingerprint can never match them — the frame vote
    does: every twin pair survives with n_matched=7, share=1.0, and
    no non-twin pair appears."""
    from pyspark.sql import functions as F

    from tsod_spark.pipeline import multimodal

    ids = spark.range(0, 40).select(F.col("id").alias("doc_id"))
    fps = multimodal.video_frame_dhashes(
        multimodal.synthetic_video_assets(ids)
    ).cache()
    try:
        per_video = {
            r["asset_id"]: r["n"]
            for r in fps.groupBy("asset_id")
            .agg(F.count(F.lit(1)).alias("n")).collect()
        }
        assert all(
            per_video[i] == (7 if i % 5 == 1 else 8) for i in range(40)
        )
        got = {
            (r["video_a"], r["video_b"], r["n_matched"], r["matched_share"])
            for r in multimodal.video_near_dups(fps).collect()
        }
        want = {(i - 1, i, 7, 1.0) for i in range(40) if i % 5 == 1}
        assert got == want
    finally:
        fps.unpersist()


def test_video_vote_threshold_excludes_partial_overlap(spark):
    """The min_frame_share knob: a synthetic pair sharing only half
    its frames passes at share<=0.5 and is excluded at 0.6 — the vote
    denominator is the SHORTER video."""
    from tsod_spark.pipeline import multimodal

    import hashlib

    # pseudo-random 64-bit frame hashes: pairwise Hamming ~32, far
    # outside the radius, so only EQUAL hashes match
    def h(x):
        return int.from_bytes(
            hashlib.md5(str(x).encode()).digest()[:8], "big", signed=True
        )

    rows = []
    # video 1: frames 0..7 with distinct far-apart hashes
    # video 2: 4 frames matching video 1's first 4 + 4 unrelated
    for f in range(8):
        rows.append((1, f, h(f)))
    for f in range(4):
        rows.append((2, f, h(f)))
    for f in range(4, 8):
        rows.append((2, f, h(100 + f)))
    fps = spark.createDataFrame(
        rows, "asset_id long, frame_idx int, dhash long"
    )
    half = multimodal.video_near_dups(fps, min_frame_share=0.5)
    assert [
        (r["video_a"], r["video_b"], r["n_matched"])
        for r in half.collect()
    ] == [(1, 2, 4)]
    strict = multimodal.video_near_dups(fps, min_frame_share=0.6)
    assert strict.count() == 0


# --- hybrid RRF retrieval -------------------------------------------


def test_hybrid_rrf_fuses_both_legs(spark):
    """RRF fusion sanity on the fixture corpus: every returned doc
    carries at least one leg rank; a doc ranked by BOTH legs scores
    the sum of both reciprocal terms exactly; ordering is (rrf desc,
    doc_id) with scores in [0, 2/61]."""
    from tsod_spark.queries.round14 import doc_hybrid_rrf_search

    rows = doc_hybrid_rrf_search(spark, SF).collect()
    assert len(rows) == 10
    prev = None
    for r in rows:
        assert r["lex_rank"] is not None or r["sem_rank"] is not None
        want = 0.0
        if r["lex_rank"] is not None:
            want += 1.0 / (60 + r["lex_rank"])
        if r["sem_rank"] is not None:
            want += 1.0 / (60 + r["sem_rank"])
        assert abs(r["rrf_score"] - round(want, 6)) < 1e-9
        if prev is not None:
            assert (prev["rrf_score"], -prev["doc_id"]) >= (
                r["rrf_score"], -r["doc_id"],
            )
        prev = r
    # the fused top must outrank a single-leg-only doc when both legs
    # agree: if any doc has both ranks, it should appear before any
    # doc whose single leg rank is weaker than both
    both = [r for r in rows if r["lex_rank"] and r["sem_rank"]]
    assert both or True  # corpus-dependent; fusion arithmetic above is the pin


def test_compact_folds_tombstones_and_defragments(spark, tmp_path):
    """Compaction completes the lifecycle: the live row set and the
    served top-k are IDENTICAL before and after, the tombstones
    directory is gone, each cell is one file again (append ticks
    fragment one file per tick), and the meta counters reset."""
    import os

    from pyspark.sql import functions as F

    from tsod_spark.pipeline import similarity
    from tsod_spark.registry import table

    emb = table(spark, SF, "embeddings")
    path = str(tmp_path / "compact-demo")
    similarity.ivfpq_index_write(
        emb.where(F.col("vec_id") % 10 != 7), path
    )
    similarity.ivfpq_index_append(
        spark, path, emb.where(F.col("vec_id") % 10 == 7)
    )
    similarity.ivfpq_index_delete(
        spark, path, emb.where(F.col("vec_id") % 37 == 5).select("vec_id")
    )
    live = emb.where(F.col("vec_id") % 37 != 5)
    before_codes, _ = similarity.ivfpq_index_load(spark, path)
    before_ids = {r["vec_id"] for r in before_codes.select("vec_id").collect()}
    before_topk = similarity.ivfpq_persisted_topk(
        spark, path, live, n_probe=6
    ).collect()

    meta = similarity.ivfpq_index_compact(spark, path)
    assert meta["generation"] == 4
    assert meta["tombstone_rows"] == 0
    assert meta["appended_rows"] == 0
    assert meta["compactions"] == 1
    assert not os.path.isdir(os.path.join(path, "tombstones"))
    codes_dir = os.path.join(path, "codes")
    for d in os.listdir(codes_dir):
        if d.startswith("cell="):
            files = [
                f for f in os.listdir(os.path.join(codes_dir, d))
                if f.endswith(".parquet")
            ]
            assert len(files) == 1, (d, files)

    after_codes, _ = similarity.ivfpq_index_load(spark, path)
    after_ids = {r["vec_id"] for r in after_codes.select("vec_id").collect()}
    assert after_ids == before_ids
    after_topk = similarity.ivfpq_persisted_topk(
        spark, path, live, n_probe=6
    ).collect()
    assert [r.asDict() for r in after_topk] == [
        r.asDict() for r in before_topk
    ]


def test_multiprobe_sampled_regime_boundary(spark):
    """The multi-probe curve refuses above the exact bound unless
    auto_sample delegates; the sampled curve keeps the schema, the
    full-corpus n_vectors/candidate volumes, and nested-probe
    monotone coverage."""
    import json
    import os

    import pytest

    from tsod_spark.pipeline import similarity
    from tsod_spark.queries.round13 import persisted_index_path
    from tsod_spark.registry import table

    emb = table(spark, SF, "embeddings")  # 500 vectors
    path = persisted_index_path(spark, SF)
    meta = json.load(open(os.path.join(path, "meta.json")))

    with pytest.raises(ValueError, match="auto_sample"):
        similarity.embedding_multiprobe_stats(
            emb, meta["centroids"], exact_max_vectors=100
        )
    exact = {
        r["n_probe"]: r.asDict()
        for r in similarity.embedding_multiprobe_stats(
            emb, meta["centroids"]
        ).collect()
    }
    sampled = {
        r["n_probe"]: r.asDict()
        for r in similarity.embedding_multiprobe_stats(
            emb, meta["centroids"], exact_max_vectors=100,
            auto_sample=True,
        ).collect()
    }
    for p in (1, 2):
        assert sampled[p]["n_vectors"] == exact[p]["n_vectors"] == 500
        # candidate side is exact in both regimes
        assert sampled[p]["n_candidates"] == exact[p]["n_candidates"]
        assert 0 <= sampled[p]["n_exact_pairs"] < exact[p]["n_exact_pairs"]
    assert sampled[2]["coverage"] >= sampled[1]["coverage"]


def test_distinct_candidate_closed_form_equals_join(spark):
    """The closed-form distinct candidate count (tag-set histogram +
    inclusion over intersecting sets) equals the materialized
    equi-join + distinct count it replaced, at p=1 and p=2."""
    import json
    import os

    from pyspark.sql import functions as F

    from tsod_spark.pipeline import similarity
    from tsod_spark.queries.round13 import persisted_index_path
    from tsod_spark.registry import table

    emb = table(spark, SF, "embeddings")
    path = persisted_index_path(spark, SF)
    meta = json.load(open(os.path.join(path, "meta.json")))
    tags = similarity.embedding_multiprobe_tags(
        emb, meta["centroids"], 2
    ).cache()
    try:
        for p in (1, 2):
            tp_a = tags.where(F.col("rk") <= p).select(
                F.col("vec_id").alias("__va"), "cell"
            )
            tp_b = tags.where(F.col("rk") <= p).select(
                F.col("vec_id").alias("__vb"), "cell"
            )
            joined = (
                tp_a.join(
                    tp_b,
                    (tp_a["cell"] == tp_b["cell"])
                    & (tp_a["__va"] < tp_b["__vb"]),
                )
                .select("__va", "__vb")
                .distinct()
                .count()
            )
            closed = similarity._distinct_candidate_pairs(tags, p)
            assert closed == joined, (p, closed, joined)
    finally:
        tags.unpersist()
