"""Seeded input generators for the benchmark workloads.

Every table is written as parquet in the testdata schema the engine's
queries read (``events``, ``documents``), into a cache directory keyed
by (kind, seed, params), so a second run with the same seed and sizes
reuses the files. The program under test only ever receives the
directory path.
"""

from __future__ import annotations

import hashlib
import json
import os
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["view", "click", "purchase", "signup", "error"])
EVENT_TYPE_P = [0.3, 0.25, 0.15, 0.1, 0.2]
STOPWORDS = ["the", "a", "an", "of", "and", "to", "in", "is", "it", "that"]
LANGS = np.array(["en", "es", "de", "fr", "zh"])
BASE_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00 in micros


def cache_dir(root: str, kind: str, seed: int, params: dict) -> Path:
    key = json.dumps({"kind": kind, "seed": seed, **params}, sort_keys=True)
    digest = hashlib.sha1(key.encode()).hexdigest()[:12]
    return Path(root) / f"{kind}-s{seed}-{digest}"


def _done(d: Path) -> bool:
    return (d / "DONE").exists()


def _mark_done(d: Path, params: dict) -> None:
    (d / "DONE").write_text(json.dumps(params, sort_keys=True))


def events_arrays(seed: int, series: int, rows: int, spike: float, nan: float,
                  flat: float) -> dict[str, np.ndarray]:
    """The fleet as column arrays in series-major order (row ``k * rows + i``
    is series ``k``'s ``i``-th observation).

    Each series is a seasonal signal with per-series level, amplitude,
    period and phase plus Gaussian noise, rounded to cents like the
    testdata fixtures. On top of it: spikes (``spike`` share of rows),
    NaN gaps of 1-5 rows (about ``nan`` share of rows) and flatlines of
    5-15 repeated values (about ``flat`` share of rows). Timestamps step
    one minute per row with sub-minute jitter, so ``ts`` is unique and
    increasing within each series.
    """
    rng = np.random.default_rng(seed)
    n = series * rows
    uid = np.repeat(np.arange(series, dtype=np.int64), rows)
    i = np.tile(np.arange(rows, dtype=np.int64), series)
    ts = BASE_US + i * 60_000_000 + rng.integers(0, 60_000_000, n)

    level = rng.uniform(60.0, 200.0, series)
    amp = rng.uniform(10.0, 50.0, series)
    period = rng.choice([24.0, 48.0, 96.0, 144.0], series)
    phase = rng.uniform(0.0, 2 * np.pi, series)
    v = (
        level[uid]
        + amp[uid] * np.sin(2 * np.pi * i / period[uid] + phase[uid])
        + rng.normal(0.0, 3.0, n)
    )
    v = np.maximum(v, 2.0)

    spikes = rng.random(n) < spike
    up = rng.random(n) < 0.7
    v[spikes & up] += rng.uniform(120.0, 250.0, int((spikes & up).sum()))
    v[spikes & ~up] = rng.uniform(-50.0, 0.5, int((spikes & ~up).sum()))

    # runs are laid out per series so they never straddle two series
    def runs(share, lo, hi):
        n_runs = max(1, int(n * share / ((lo + hi) / 2)))
        starts = rng.integers(0, n, n_runs)
        lens = rng.integers(lo, hi + 1, n_runs)
        ends = np.minimum(starts + lens, (starts // rows + 1) * rows)
        return starts, ends

    for s, e in zip(*runs(flat, 5, 15)):
        v[s:e] = v[s]
    v = np.round(v, 2)
    for s, e in zip(*runs(nan, 1, 5)):
        v[s:e] = np.nan

    etype = rng.choice(len(EVENT_TYPES), n, p=EVENT_TYPE_P)
    props_k = rng.integers(0, 100, n)
    return {"user_id": uid, "ts": ts, "value": v, "etype": etype, "props_k": props_k}


def events_table(cols: dict[str, np.ndarray], order: np.ndarray,
                 event_ids: np.ndarray) -> pa.Table:
    """Testdata-schema ``events`` table of the rows ``order`` selects."""
    return pa.table(
        {
            "event_id": pa.array(event_ids, pa.int64()),
            "ts": pa.array(cols["ts"][order], pa.timestamp("us")),
            "user_id": pa.array(cols["user_id"][order], pa.int64()),
            "event_type": pa.array(EVENT_TYPES[cols["etype"][order]]),
            "value": pa.array(cols["value"][order], pa.float64()),
            "props": pa.array([f'{{"k": {k}}}' for k in cols["props_k"][order]]),
        }
    )


def write_events(root: str, seed: int, **params) -> Path:
    """``<dir>/events.parquet`` ordered by ``ts`` like the testdata
    fixture, with ``event_id`` its global ts rank."""
    d = cache_dir(root, "events", seed, params)
    if _done(d):
        return d
    d.mkdir(parents=True, exist_ok=True)
    cols = events_arrays(seed, **params)
    order = np.argsort(cols["ts"], kind="stable")
    t = events_table(cols, order, np.arange(len(order), dtype=np.int64))
    pq.write_table(t, d / "events.parquet")
    _mark_done(d, params)
    return d


def write_stream(root: str, seed: int, series: int, files: int, rows_per_file: int,
                 spike: float, nan: float, flat: float) -> Path:
    """The fleet as an ordered run of ``files`` parquet files under
    ``<dir>/stream/``: file ``f`` holds rows ``[f*r, (f+1)*r)`` of every
    series (``r = rows_per_file // series``), shuffled within the file.
    No row of a later file precedes a row of an earlier file in its
    series, so no row is late. ``<dir>/events.parquet`` holds the same
    rows (same ``event_id``) for the oracle. File modification times
    increase with the file index so the file source lists them in
    order."""
    params = dict(series=series, files=files, rows_per_file=rows_per_file,
                  spike=spike, nan=nan, flat=flat)
    d = cache_dir(root, "stream", seed, params)
    if _done(d):
        return d
    per = rows_per_file // series
    if per < 1:
        raise ValueError("rows_per_file must be at least the series count")
    rows = per * files
    cols = events_arrays(seed, series, rows, spike, nan, flat)
    rng = np.random.default_rng(seed + 1)
    sdir = d / "stream"
    sdir.mkdir(parents=True, exist_ok=True)
    order = np.argsort(cols["ts"], kind="stable")
    eid = np.empty(len(order), dtype=np.int64)
    eid[order] = np.arange(len(order))
    i = np.tile(np.arange(rows, dtype=np.int64), series)
    mtime = 1_700_000_000
    for f in range(files):
        sel = np.flatnonzero((i >= f * per) & (i < (f + 1) * per))
        sel = rng.permutation(sel)
        p = sdir / f"part-{f:05d}.parquet"
        pq.write_table(events_table(cols, sel, eid[sel]), p)
        os.utime(p, (mtime + f, mtime + f))
    pq.write_table(events_table(cols, order, eid[order]), d / "events.parquet")
    _mark_done(d, params)
    return d


def _words(rng: np.random.Generator, vocab: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    out = list(STOPWORDS)
    seen = set(out)
    while len(out) < vocab:
        w = "".join(rng.choice(letters, rng.integers(3, 10)))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return np.array(out)


def documents_table(seed: int, docs: int, exact_dup: float, near_dup: float,
                    zipf: float, leak: float, vocab: int = 5000,
                    sources: int = 20) -> pa.Table:
    """``documents`` with a Zipf(``zipf``) vocabulary whose ten most
    frequent words are the English stopwords, ``sources`` sources
    (``src0`` is the eval slice), an ``exact_dup`` share of byte-equal
    copies, a ``near_dup`` share of copies with ~6% of words replaced,
    and a ``leak`` share of non-eval docs carrying a 10-20 word span
    copied from an ``src0`` doc (so its 5-grams collide)."""
    rng = np.random.default_rng(seed)
    words = _words(rng, vocab)
    p = 1.0 / np.arange(1, vocab + 1) ** zipf
    p /= p.sum()
    lens = rng.integers(20, 140, docs)
    lens[rng.random(docs) < 0.02] = rng.integers(1, 5)  # a few stubs
    toks = [rng.choice(vocab, n, p=p) for n in lens]
    src = rng.integers(0, sources, docs)
    kind = rng.random(docs)
    eval_ids = np.flatnonzero(src == 0)
    for d in range(docs):
        if d == 0:
            continue
        if kind[d] < exact_dup:
            toks[d] = toks[rng.integers(0, d)]
        elif kind[d] < exact_dup + near_dup:
            t = toks[rng.integers(0, d)].copy()
            swap = rng.random(len(t)) < 0.06
            t[swap] = rng.choice(vocab, int(swap.sum()), p=p)
            toks[d] = t
        elif src[d] != 0 and len(eval_ids) and kind[d] < exact_dup + near_dup + leak:
            e = toks[eval_ids[rng.integers(0, len(eval_ids))]]
            span = min(len(e), int(rng.integers(10, 21)))
            at = int(rng.integers(0, len(e) - span + 1))
            t = toks[d]
            cut = int(rng.integers(0, len(t) + 1))
            toks[d] = np.concatenate([t[:cut], e[at:at + span], t[cut:]])
    texts = []
    for t in toks:
        ws = words[t].tolist()
        for j in range(11, len(ws), 12):
            ws[j] += "."
        texts.append(" ".join(ws))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(docs), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(LANGS[rng.integers(0, len(LANGS), docs)]),
            "source": pa.array([f"src{s}" for s in src]),
            "n_chars": pa.array([len(x) for x in texts], pa.int64()),
        }
    )


def write_documents(root: str, seed: int, **params) -> Path:
    d = cache_dir(root, "documents", seed, params)
    if _done(d):
        return d
    d.mkdir(parents=True, exist_ok=True)
    pq.write_table(documents_table(seed, **params), d / "documents.parquet")
    _mark_done(d, params)
    return d
