"""Text-analysis operators for large-scale training-data pipelines.

All operators are pure Column algebra (JVM-side, codegen-friendly, no
Python UDFs) over a ``documents(doc_id, text, ...)`` table, designed so
an ANSI-SQL oracle can express the identical computation:

- tokenization = regex split + empty filter;
- hashes = md5 (available and bit-identical in every engine);
- language ID = marker-token scoring with a deterministic arg-max;
- quality stats = length/ratio arithmetic on exact ints.

At 100 TB these are embarrassingly parallel scans — no shuffle at all
unless the caller aggregates.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..util import default_parallelism, round_half_away6

# Deterministic marker vocabularies for the n-gram/stopword language
# heuristic. Order matters: ties resolve to the earlier language.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to"],
    "de": ["der", "die", "das", "und", "ist"],
    "es": ["el", "la", "de", "que", "los"],
    "fr": ["le", "la", "les", "des", "est"],
    "zh": ["de", "shi", "zai", "le", "he"],
}

BPE_TOKEN_RE = "[a-z]+|[0-9]+|[^a-z0-9 ]"  # BPE-ish: runs of letters, digits, or single symbols


def tokens(text: Column) -> Column:
    """Lower-cased whitespace tokens, empties removed."""
    return F.filter(F.split(F.lower(text), r"\s+"), lambda x: x != "")


def distinct_tokens(text: Column) -> Column:
    return F.array_distinct(tokens(text))


def all_shingles(toks: Column, n: int = 3) -> Column:
    """ALL word n-gram shingles (with repeats) of a token array.

    ``array_join(slice(toks, i, n))`` rather than ``concat_ws`` over n
    ``element_at`` calls: higher-order transform lambdas run
    interpreted, and each ``element_at`` re-resolves into the array, so
    the n-lookup formulation measured 4.5x slower at sf0.1 (12.4s vs
    2.8s per corpus pass) than one slice+join per gram. The ``when``
    guard matters: ``sequence(1, size-n+1)`` DESCENDS when size < n,
    which would emit garbage grams instead of an empty array.
    """
    size = F.size(toks)
    idx = F.sequence(F.lit(1), size - (n - 1))
    gram = lambda i: F.array_join(F.slice(toks, i, n), " ")  # noqa: E731
    return F.when(size >= n, F.transform(idx, gram)).otherwise(
        F.array().cast("array<string>")
    )


def shingles(toks: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a token array.

    The shingle space is |vocab|^n, so min-hashes diversify even on
    small vocabularies — hashing raw unigrams collapses most documents
    into one LSH bucket (measured: a 3132-doc band bucket at sf0.1
    becomes 8 docs with 3-shingles).
    """
    return F.array_distinct(all_shingles(toks, n))


def lm_rarity(
    docs: DataFrame,
    reference: DataFrame,
    text_col: str = "text",
    min_count: int = 1,
) -> DataFrame:
    """Reference-LM rarity signals per document — the KenLM-style
    quality-filter stage of a curation pipeline (CCNet filters on LM
    perplexity; this is the exact cross-engine formulation: integer
    count statistics and an order-statistic, instead of float log-prob
    sums whose value depends on summation order).

    Per document, against the unigram counts of ``reference``:
    ``n_tokens``, ``n_oov`` (tokens unseen in the reference),
    ``oov_rate``, and ``median_ref_count`` (the median reference
    frequency of the doc's tokens, OOV as 0 — low medians mean rare /
    off-domain vocabulary, the perplexity proxy).

    Scale: the reference vocabulary aggregates once (map-side partial
    counts) and BROADCASTS — fine for a pruned vocabulary
    (``min_count`` drops the hapax tail, which is most of Heaps-law
    growth); for an unpruned 100 TB-corpus vocabulary switch the
    lookup to a plain shuffle join by dropping the broadcast hint —
    the per-doc aggregate shape is unchanged.
    """
    ref_counts = (
        reference.select(F.explode(tokens(F.col(text_col))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("__c"))
        .where(F.col("__c") >= min_count)
    )
    doc_tokens = docs.select(
        "doc_id", F.explode_outer(tokens(F.col(text_col))).alias("w")
    ).join(F.broadcast(ref_counts), "w", "left")
    n_tokens = F.count("w").cast("long")
    n_oov = F.sum(F.when(F.col("__c").isNull() & F.col("w").isNotNull(), 1).otherwise(0)).cast("long")
    return doc_tokens.groupBy("doc_id").agg(
        n_tokens.alias("n_tokens"),
        n_oov.alias("n_oov"),
        F.when(n_tokens > 0, F.round(n_oov / n_tokens, 6)).alias("oov_rate"),
        F.round(
            F.percentile(
                F.when(F.col("w").isNotNull(), F.coalesce(F.col("__c"), F.lit(0))),
                F.lit(0.5),
            ),
            6,
        ).alias("median_ref_count"),
    )


def text_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality metrics: token counts, type-token ratio,
    mean word length, a composite quality score.

    The token array is materialized ONCE in a first projection —
    Catalyst does not CSE array-HOF subtrees, so referencing
    ``tokens(text)`` from every metric re-runs the regex split per
    metric (measured ~2x on this query at sf0.1).
    """
    base = docs.select(
        "doc_id",
        F.length(F.col(text_col)).cast("long").alias("n_chars"),
        tokens(F.col(text_col)).alias("__t"),
    )
    t = F.col("__t")
    n_words = F.size(t)
    n_uniq = F.size(F.array_distinct(t))
    total_len = F.aggregate(t, F.lit(0), lambda acc, x: acc + F.length(x))
    return base.select(
        "doc_id",
        "n_chars",
        n_words.cast("long").alias("n_words"),
        n_uniq.cast("long").alias("n_uniq_words"),
        round_half_away6(n_uniq / n_words).alias("type_token_ratio"),
        round_half_away6(total_len / n_words).alias("mean_word_len"),
        # crude quality: long-enough docs with diverse vocab score higher
        round_half_away6(
            F.least(F.col("n_chars") / F.lit(500.0), F.lit(1.0)) * (n_uniq / n_words)
        ).alias("quality_score"),
    )


STOPWORDS_EN = ["the", "a", "an", "of", "and", "to", "in", "is", "it", "that"]
PUNCT_CLASS = "[.,!?;:]"


def quality_signals(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Character- and token-class ratios used by pretraining-data
    quality filters: punctuation / uppercase / digit character ratios,
    stopword token ratio, and a composite low-quality flag.

    All ratios are exact int/int divisions rounded to 6 decimals; the
    char counts come from length deltas after class removal, which any
    SQL engine reproduces exactly.
    """
    txt = F.col(text_col)
    n_chars = F.length(txt)
    n_punct = n_chars - F.length(F.regexp_replace(txt, PUNCT_CLASS, ""))
    n_upper = n_chars - F.length(F.regexp_replace(txt, "[A-Z]", ""))
    n_digit = n_chars - F.length(F.regexp_replace(txt, "[0-9]", ""))
    t = tokens(txt)
    n_words = F.size(t)
    sw = F.array(*[F.lit(s) for s in STOPWORDS_EN])
    n_stop = F.size(F.filter(t, lambda x: F.array_contains(sw, x)))
    ratio = lambda num, den: F.when(den > 0, F.round(num / den, 6))  # noqa: E731
    punct_ratio = ratio(n_punct, n_chars)
    stop_ratio = ratio(n_stop, n_words)
    low = (
        (n_words < 5)
        | F.coalesce(stop_ratio < 0.01, F.lit(True))
        | F.coalesce(punct_ratio > 0.2, F.lit(True))
    )
    return docs.select(
        "doc_id",
        n_chars.cast("long").alias("n_chars"),
        n_words.cast("long").alias("n_words"),
        punct_ratio.alias("punct_ratio"),
        ratio(n_upper, n_chars).alias("upper_ratio"),
        ratio(n_digit, n_chars).alias("digit_ratio"),
        stop_ratio.alias("stopword_ratio"),
        low.alias("is_low_quality"),
    )


def top_token_count(toks: Column) -> Column:
    """Count of the most frequent token: sort, then one O(n) max-run
    scan via ``aggregate``.

    The direct formulation — ``array_max(transform(array_distinct(t),
    d -> size(filter(t, x -> x = d))))`` — is O(distinct * n) of
    interpreted lambda calls and measured 4.5x slower at sf0.1 (1.2s
    vs 0.27s per corpus pass). Tokens are never empty strings (the
    tokenizer filters them), so the "" run-seed cannot collide.
    """
    st = F.array_sort(toks)
    return F.aggregate(
        st,
        F.struct(
            F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )


def dup_ngram_frac(toks: Column, n: int) -> Column:
    """1 - distinct/total word n-grams, NULL when the doc has no
    n-gram.

    total n-grams = size - n + 1 arithmetically — never build the gram
    array just to measure it. Catalyst does NOT common-subexpression-
    eliminate higher-order subtrees, so the naive ``size(g)`` +
    ``size(array_distinct(g))`` pair builds the gram array twice; this
    shape builds it once (measured: the 2+3-gram signal pair went
    15.5s -> ~3s per corpus pass at sf0.1).
    """
    total = F.size(toks) - (n - 1)
    distinct = F.size(F.array_distinct(all_shingles(toks, n)))
    return F.when(total > 0, F.round(1 - distinct / total, 6))


def repetition_signals(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition filters: top-unigram share and duplicate
    n-gram fractions (Rae et al. 2021 'massive text' repetition rules,
    adapted to single-line docs — the line/paragraph variants collapse
    here).

    top_unigram_share = count of the most frequent token / n_tokens;
    dup_{2,3}gram_frac = 1 - distinct/total n-grams. All ratios are
    int/int divisions in identical association on both engines, rounded
    to 6 decimals; the per-doc signals are pure column algebra — no
    shuffle, no UDF (see ``top_token_count``/``dup_ngram_frac`` for
    why these exact shapes).
    """
    # staged selects: tokenization is the expensive expression here
    # (split + interpreted filter lambda), and every helper references
    # the token array several times (size guards, sequence bounds,
    # transform source) — inlined, it re-tokenizes per reference.
    # CollapseProject declines to inline a multiply-referenced
    # non-cheap expression, so the staged projection tokenizes exactly
    # once per row, and likewise computes each signal once even though
    # the is_repetitive OR references them again.
    tok = docs.select("doc_id", tokens(F.col(text_col)).alias("__t"))
    t0 = F.col("__t")
    n_tok = F.size(t0)
    base = tok.select(
        "doc_id",
        n_tok.cast("long").alias("n_tokens"),
        F.when(n_tok > 0, F.round(top_token_count(t0) / n_tok, 6)).alias(
            "top_unigram_share"
        ),
        dup_ngram_frac(t0, 2).alias("dup_2gram_frac"),
        dup_ngram_frac(t0, 3).alias("dup_3gram_frac"),
    )
    # the top-share rule only applies to docs long enough for a mode
    # to mean anything (Gopher applies its repetition rules above a
    # min length; a 1-token doc is trivially 100% its own mode)
    rep = (
        F.coalesce(
            (F.col("n_tokens") >= 10) & (F.col("top_unigram_share") > 0.2),
            F.lit(False),
        )
        | F.coalesce(F.col("dup_2gram_frac") > 0.4, F.lit(False))
        | F.coalesce(F.col("dup_3gram_frac") > 0.3, F.lit(False))
    )
    return base.select("*", rep.alias("is_repetitive"))


def token_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace tokens + BPE-ish regex token count (SURVEY 'token
    counting')."""
    ws = F.size(tokens(F.col(text_col)))
    bpe = F.size(F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(BPE_TOKEN_RE), 0))
    return docs.select(
        "doc_id", ws.cast("long").alias("ws_tokens"), bpe.cast("long").alias("bpe_tokens")
    )


def lang_scores(toks: Column) -> list[tuple[str, Column]]:
    out = []
    for lang, markers in LANG_MARKERS.items():
        marker_arr = F.array(*[F.lit(m) for m in markers])
        score = F.size(F.filter(toks, lambda x: F.array_contains(marker_arr, x)))
        out.append((lang, score))
    return out


def lang_id(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Marker-token language ID with deterministic tie-breaking (first
    language in LANG_MARKERS order wins ties). Tokens materialize once
    (see text_stats), then each language scores the shared array."""
    base = docs.select("doc_id", "lang", tokens(F.col(text_col)).alias("__t"))
    base = base.select(
        "doc_id",
        "lang",
        *[
            c.cast("long").alias(f"score_{lang}")
            for lang, c in lang_scores(F.col("__t"))
        ],
    )
    langs = list(LANG_MARKERS)
    cols = [F.col(f"score_{lang}") for lang in langs]
    pred = F.lit(langs[-1])
    # fold from the back so earlier languages win ties
    for i in range(len(langs) - 2, -1, -1):
        cond = None
        for j in range(i + 1, len(langs)):
            c = cols[i] >= cols[j]
            cond = c if cond is None else (cond & c)
        pred = F.when(cond, F.lit(langs[i])).otherwise(pred)
    return base.select(
        "doc_id",
        *[f"score_{lang}" for lang in langs],
        pred.alias("predicted_lang"),
        (pred == F.col("lang")).alias("matches_label"),
    )


def fingerprints(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Document fingerprints:

    - ``content_md5``: md5 of the raw text (exact-dup key);
    - ``bag_md5``: md5 of the sorted distinct token bag (word-order- and
      repetition-insensitive near-dup key);
    - ``bag_hash``: 32-bit rolling-style integer hash of the bag (sum of
      per-token md5-prefix ints mod 2^31) — cheap join/partition key.
    """
    toks = F.array_sort(distinct_tokens(F.col(text_col)))
    bag = F.array_join(toks, " ")
    tok_int = lambda x: F.conv(F.substring(F.md5(x), 1, 8), 16, 10).cast("long")  # noqa: E731
    bag_hash = F.aggregate(toks, F.lit(0).cast("long"), lambda acc, x: (acc + tok_int(x)) % F.lit(2147483647).cast("long"))
    return docs.select(
        "doc_id",
        F.md5(F.col(text_col)).alias("content_md5"),
        F.md5(bag).alias("bag_md5"),
        bag_hash.alias("bag_hash"),
    )


def winnow_fingerprints(
    docs: DataFrame,
    text_col: str = "text",
    k: int = 5,
    window: int = 4,
    spread: bool = True,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS algorithm), over word ``k``-grams.

    Every positional k-gram hashes to a 32-bit int (md5-prefix,
    engine-portable); a window of ``window`` consecutive k-gram hashes
    slides over the sequence and the MINIMUM of each window is
    selected. The guarantee: any shared token run of length >=
    ``window + k - 1`` between two documents shares at least one
    selected fingerprint, while only ~2/(window+1) of all grams are
    kept — the partial-overlap detector that whole-document hashes
    (:func:`fingerprints`) cannot provide.

    Returns exploded distinct ``(doc_id, fp)`` rows — a bucketed
    equi-join key for overlap detection
    (:func:`tsod_spark.pipeline.dedup.winnow_overlap_pairs`).

    Plan shape: pure per-row Column algebra, zero shuffle before the
    final per-doc distinct explode. Each HOF stage (tokens -> grams ->
    hashes -> window minima) is wrapped in a 1-element explode so the
    Generate node acts as a projection barrier — ProjectCollapse would
    otherwise re-inline the token/gram/hash arrays into EVERY downstream
    reference and re-run them per element (Catalyst has no cross-HOF
    CSE; measured 47s vs 0.6s at sf0.01 for this exact function —
    the minhash_signatures_rowwise lesson). Short docs (< k tokens, or
    fewer than ``window`` grams) yield no fingerprints, matching the
    DuckDB oracle's empty ranges.

    ``spread=False`` skips the up-front text repartition (the
    :func:`tsod_spark.pipeline.dedup.minhash_signatures` contract):
    fingerprinting then runs at scan parallelism with zero exchanges.
    Use it for streaming micro-batches (an added Exchange changes the
    stream plan) and for tiny batch legs whose chain costs less than
    the shuffle; the default spread exists because the tokenize ->
    k-gram -> md5 -> window-min chain is the CPU cost of this operator
    and a small/few-file corpus scans as a single task.
    """
    if spread:
        n_part = default_parallelism(docs.sparkSession)
        docs = docs.repartition(n_part, F.col("doc_id"))

    def barrier(df, expr, name):
        return df.select("doc_id", F.explode(F.array(expr)).alias(name))

    staged = barrier(docs, tokens(F.col(text_col)), "__t")
    n = F.size("__t")
    grams = F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(1), n - (k - 1)),
            lambda i: F.concat_ws(" ", F.slice("__t", i, k)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    staged = barrier(staged, grams, "__g")
    hashes = F.transform(
        F.col("__g"),
        lambda g: F.conv(F.substring(F.md5(g), 1, 8), 16, 10).cast("long"),
    )
    staged = barrier(staged, hashes, "__h")
    m = F.size("__h")
    fps = F.when(
        m >= window,
        F.transform(
            F.sequence(F.lit(1), m - (window - 1)),
            lambda j: F.array_min(F.slice("__h", j, window)),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    staged = barrier(staged, F.array_distinct(fps), "__fp")
    return staged.select("doc_id", F.explode("__fp").alias("fp"))


def bm25_search(
    docs: DataFrame,
    query_terms: list[str],
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 20,
) -> DataFrame:
    """BM25 full-text search: rank documents for a fixed bag-of-words
    query (Robertson/Sparck-Jones idf, Okapi tf saturation + length
    normalization).

    Plan shape for 100 TB: the exploded token stream is filtered to the
    broadcast query-term set BEFORE any shuffle, so the only (doc,
    term) aggregation runs over matching postings — corpus-size work is
    a single column-pruned scan. The per-term document frequency is a
    tiny aggregate of that posting frame, and the global corpus stats
    (doc count, total token count) ride a broadcast 1-row crossJoin.
    In production those two scalars come from the corpus manifest
    (see :mod:`corpus_io`) instead of a second scan per query.

    Cross-engine exactness: ``dl/avgdl`` is computed as the exact
    product/ratio ``dl * n_docs / total_tokens`` of bigints so both
    engines evaluate the same float expression tree; scores round to 6
    decimals BEFORE ranking with a doc_id tie-break.
    """
    from pyspark.sql import Window

    terms = [t.lower() for t in query_terms]
    toks = tokens(F.col(text_col))
    # NOT spread (r15 A/B): the two tokenize legs are ~0.2s each at
    # sf0.1 and an up-front text repartition REGRESSED the query 0.65
    # -> 1.0s — the ms-scale-chain rule; at real corpus scale the
    # postings filter prunes before any shuffle, so scan parallelism
    # is the right cap here
    lens = docs.select("doc_id", F.size(toks).cast("long").alias("dl"), toks.alias("__t"))
    stats = lens.agg(
        F.count(F.lit(1)).cast("long").alias("nd"),
        F.sum("dl").cast("long").alias("st"),
    )
    tf = (
        lens.select("doc_id", "dl", F.explode("__t").alias("term"))
        .where(F.col("term").isin(terms))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    idf = F.log((F.col("nd") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    norm = F.col("tf") + k1 * (
        1.0 - b + b * F.col("dl") * F.col("nd") / F.col("st")
    )
    contrib = idf * (F.col("tf") * (k1 + 1.0) / norm)
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.round(F.sum(contrib), 6).alias("score"),
            F.count(F.lit(1)).cast("long").alias("n_terms_hit"),
        )
    )
    # global top-k via orderBy+limit => TakeOrderedAndProject (per-partition
    # heap + driver merge of k rows), NOT a row_number window that would
    # drag every scored row into a single partition; the rank window then
    # runs over only the k survivors.
    top = scored.orderBy(F.desc("score"), "doc_id").limit(top_k)
    w = Window.orderBy(F.desc("score"), "doc_id")
    return top.withColumn("rk", F.row_number().over(w).cast("long")).select(
        "doc_id", "score", "n_terms_hit", "rk"
    )


def vocab_overlap(
    docs: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
    n: int = 2,
) -> DataFrame:
    """Pairwise n-gram vocabulary overlap between corpus slices —
    the corpus-diversity diagnostic behind mixture design (how much of
    source B's phrasing does source A already cover?).

    Plan: the corpus collapses to DISTINCT (group, gram) in one
    exploded aggregation — all later work runs on the vocabulary,
    which is orders of magnitude smaller than the corpus. The
    vocabulary self-joins on the gram key (per-gram fan-out is bounded
    by the number of groups, so no quadratic blow-up), and the full
    pair matrix — including zero-overlap pairs AND groups whose docs
    are all shorter than ``n`` tokens (empty vocabulary ⇒ vsz 0) —
    comes from a broadcast cross of the tiny per-group size table,
    which is seeded from DISTINCT group values of the corpus itself so
    no group can silently vanish.
    """
    # spread the CPU-bound shingling across cores: a small corpus is
    # one parquet file = one scan task, and tokenize+shingle+explode
    # dominates this operator (the dedup.py `spread` pattern; measured
    # 6x on the single-file fixture). The distinct right after explode
    # would shuffle anyway, so the extra exchange only moves raw text.
    n_part = default_parallelism(docs.sparkSession)
    grams = (
        docs.repartition(n_part, "doc_id")
        .select(
            F.col(group_col).alias("g"),
            F.explode(shingles(tokens(F.col(text_col)), n)).alias("gram"),
        )
        .distinct()
    )
    sizes = (
        docs.select(F.col(group_col).alias("g"))
        .distinct()
        .join(
            grams.groupBy("g").agg(
                F.count(F.lit(1)).cast("long").alias("vsz")
            ),
            "g",
            "left",
        )
        .fillna(0, subset=["vsz"])
    )
    inter = (
        grams.alias("a")
        .join(grams.alias("b"), "gram")
        .where(F.col("a.g") < F.col("b.g"))
        .groupBy(F.col("a.g").alias("ga"), F.col("b.g").alias("gb"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    pairs = (
        sizes.select(F.col("g").alias("ga"), F.col("vsz").alias("vocab_a"))
        .crossJoin(
            F.broadcast(
                sizes.select(F.col("g").alias("gb"), F.col("vsz").alias("vocab_b"))
            )
        )
        .where(F.col("ga") < F.col("gb"))
    )
    out = pairs.join(F.broadcast(inter), ["ga", "gb"], "left").fillna(
        0, subset=["n_common"]
    )
    den = F.col("vocab_a") + F.col("vocab_b") - F.col("n_common")
    jac = F.when(den > 0, F.col("n_common") / den).otherwise(F.lit(0.0))
    return out.select(
        F.col("ga").alias("source_a"),
        F.col("gb").alias("source_b"),
        "vocab_a",
        "vocab_b",
        "n_common",
        F.round(jac, 6).alias("jaccard"),
    )


def tfidf_topk(docs: DataFrame, text_col: str = "text", k: int = 5) -> DataFrame:
    """Top-k TF-IDF keywords per document.

    tf = in-doc term count; idf = ln((N+1)/(df+1)) with df = number of
    docs containing the term. Plan: the exploded token stream shuffles
    once into (doc, term) counts; the document-frequency table is a
    second aggregate over that (much smaller) frame and joins back on
    the term key — hot stopword terms are exactly the AQE skew-join
    case; the corpus size N rides a broadcast 1-row crossJoin (lazy
    scalar). Scores are rounded to 6 decimals BEFORE ranking on both
    engines so rank ties break identically (term asc), keeping the
    top-k cross-engine stable.
    """
    from pyspark.sql import Window

    # spread the tokenize+explode across cores (few-file corpus = one
    # scan task); the (doc, term) aggregate and the per-doc rank window
    # shuffle by their own keys regardless, so the only added exchange
    # is this round-robin-shaped move of the raw text
    toks = docs.repartition(
        default_parallelism(docs.sparkSession), F.col("doc_id")
    ).select("doc_id", F.explode(tokens(F.col(text_col))).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    df_tbl = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).cast("long").alias("__n"))
    scored = (
        tf.join(df_tbl, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf") * F.log((F.col("__n") + 1) / (F.col("df") + 1)), 6
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "term")
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= k)
        .select("doc_id", "term", "tf", "df", "tfidf", "rk")
    )


def gopher_filter(
    docs: DataFrame,
    text_col: str = "text",
    min_words: int = 20,
    max_words: int = 100_000,
    min_mean_word_len: float = 2.0,
    max_mean_word_len: float = 12.0,
    max_symbol_word_ratio: float = 0.1,
    max_bullet_line_frac: float = 0.9,
    max_ellipsis_line_frac: float = 0.3,
    min_alpha_word_frac: float = 0.6,
    min_stop_hits: int = 2,
) -> DataFrame:
    """Gopher-style pretraining quality gate (Rae et al. 2021, §A1.1):
    per-document repetition-independent heuristics — word-count bounds,
    mean word length bounds, symbol-to-word ratio (# and ellipsis),
    bullet-/ellipsis-line fractions, alphabetic-word fraction, and a
    minimum count of distinct English stopwords — folded into one
    ``pass_gopher`` boolean.

    One corpus scan of pure Column algebra: the token array and line
    array each materialize once in a first projection (Catalyst does
    not CSE array-HOF subtrees), every signal is an exact int/int
    ratio, and comparisons run on the UNROUNDED quotients (IEEE
    division is bit-deterministic cross-engine for identical operand
    order) while the emitted ratio columns round to 6 decimals. At
    100 TB this is the map-side gate you run before any shuffle-heavy
    dedup — it drops garbage without moving it.
    """
    txt = F.col(text_col)
    base = docs.select(
        "doc_id",
        tokens(txt).alias("__t"),
        F.split(txt, "\n").alias("__l"),
        (
            (F.length(txt) - F.length(F.regexp_replace(txt, "#", "")))
            + F.size(
                F.filter(
                    F.split(txt, " "),
                    lambda x: x.rlike("(\\.\\.\\.|…)"),
                )
            )
        ).alias("__nsym"),
    )
    t, lines = F.col("__t"), F.col("__l")
    n_words = F.size(t)
    total_len = F.aggregate(t, F.lit(0), lambda acc, x: acc + F.length(x))
    n_lines = F.size(lines)
    n_bullet = F.size(F.filter(lines, lambda x: x.rlike("^\\s*[-*•]")))
    n_ellip = F.size(F.filter(lines, lambda x: x.rlike("(\\.\\.\\.|…)\\s*$")))
    n_alpha = F.size(F.filter(t, lambda x: x.rlike("[a-zA-Z]")))
    sw = F.array(*[F.lit(s) for s in STOPWORDS_EN])
    stop_hits = F.size(F.filter(sw, lambda s: F.array_contains(t, s)))
    # every ratio guards its denominator (NULL on empty docs — ANSI
    # mode would otherwise raise DIVIDE_BY_ZERO); NULL comparisons
    # propagate NULL through the AND chain and coalesce to False
    mean_wl = F.when(n_words > 0, total_len / n_words)
    sym_ratio = F.when(n_words > 0, F.col("__nsym") / n_words)
    bullet_frac = F.when(n_lines > 0, n_bullet / n_lines)
    ellip_frac = F.when(n_lines > 0, n_ellip / n_lines)
    alpha_frac = F.when(n_words > 0, n_alpha / n_words)
    ok = (
        (n_words >= min_words)
        & (n_words <= max_words)
        & (mean_wl >= min_mean_word_len)
        & (mean_wl <= max_mean_word_len)
        & (sym_ratio <= max_symbol_word_ratio)
        & (bullet_frac <= max_bullet_line_frac)
        & (ellip_frac <= max_ellipsis_line_frac)
        & (alpha_frac >= min_alpha_word_frac)
        & (stop_hits >= min_stop_hits)
    )
    return base.select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        F.round(mean_wl, 6).alias("mean_word_len"),
        F.round(sym_ratio, 6).alias("symbol_word_ratio"),
        F.round(bullet_frac, 6).alias("bullet_line_frac"),
        F.round(ellip_frac, 6).alias("ellipsis_line_frac"),
        F.round(alpha_frac, 6).alias("alpha_word_frac"),
        stop_hits.cast("long").alias("n_stopword_hits"),
        F.coalesce(ok, F.lit(False)).alias("pass_gopher"),
    )


def chunk_split(
    docs: DataFrame,
    chunk_tokens: int = 64,
    stride: int = 48,
    text_col: str = "text",
) -> DataFrame:
    """RAG-style chunking: split each document into overlapping
    token windows of ``chunk_tokens`` at ``stride`` (overlap =
    chunk_tokens - stride), emitting ``(doc_id, chunk_id, start_token,
    n_tokens, chunk_text)`` — the retrieval-corpus preparation step
    that feeds the embedding + ANN index half of this module.

    One map-side pass: tokenize once, generate window starts with
    ``sequence`` (1, 1+stride, ...), slice+join per start — all
    JVM-side array ops, no shuffle, no Python. Empty docs emit no
    chunks. The tail window is shorter than ``chunk_tokens`` when the
    doc doesn't divide evenly; every token belongs to >=1 chunk.
    """
    base = docs.select("doc_id", tokens(F.col(text_col)).alias("__t"))
    n = F.size("__t")
    starts = F.when(
        n > 0, F.sequence(F.lit(1), n, F.lit(stride))
    ).otherwise(F.array().cast("array<int>"))
    e = base.select(
        "doc_id", "__t", F.posexplode(starts).alias("chunk_id", "__s")
    )
    piece = F.slice(F.col("__t"), F.col("__s"), chunk_tokens)
    return e.select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.col("__s").cast("long").alias("start_token"),
        F.size(piece).cast("long").alias("n_tokens"),
        F.array_join(piece, " ").alias("chunk_text"),
    )


def hash_buckets(toks: Column, dim: int = 32) -> Column:
    """Token array -> md5-derived bucket-int array (engine-portable
    hashing-trick projection). Project this into its OWN column before
    feeding :func:`hash_embed` — see its staging note."""
    return F.transform(
        toks,
        lambda x: F.conv(F.substring(F.md5(x), 1, 4), 16, 10).cast("long")
        % dim,
    )


def query_hash_counts(query: str, dim: int = 32) -> list[int]:
    """Bucket-count histogram of a literal query string under the SAME
    md5 bucket map as :func:`hash_buckets`, computed driver-side
    (``hashlib.md5`` of the UTF-8 token == Spark's ``md5``; O(|query|)
    work) so it folds into the plan as a ``dim``-int literal.

    Tokenization matches the engine contract exactly: corpus tokens
    split on Java-regex ``\\s`` (ASCII-only ``[ \\t\\n\\x0b\\f\\r]``),
    so the query splits on the same ASCII whitespace classes — Python's
    Unicode-aware ``\\s`` would bucket a query containing U+00A0 or
    other Unicode whitespace differently than the identical corpus
    text does engine-side."""
    import hashlib
    import re

    counts = [0] * dim
    for t in re.split(r"[ \t\n\x0b\f\r]+", query.lower()):
        if t:
            b = int(hashlib.md5(t.encode("utf-8")).hexdigest()[:4], 16) % dim
            counts[b] += 1
    return counts


def hash_embed(toks: Column, dim: int = 32) -> Column:
    """Feature-hashing ("hashing trick") embedding of a BUCKET-int
    array (:func:`hash_buckets` output):
    each token hashes to one of ``dim`` buckets (md5-derived, engine-
    portable), the vector is the bucket-count histogram L2-normalized
    to unit length — the deterministic, model-free text embedding that
    exercises the exact plumbing (array<double>, cosine ranking, ANN
    indexing) a learned-model embedding column uses at 100 TB.

    IMPORTANT staging note: pass a PRE-MATERIALIZED bucket array
    (:func:`hash_buckets` projected into its own column) — Catalyst
    does not CSE higher-order subtrees, so handing this function a
    nested ``hash_buckets(tokens(...))`` expression re-runs the md5
    per (token, bucket) pair: measured 30s vs ~2s per corpus pass at
    sf0.01. :func:`rag_search` shows the staged shape. An ANSI-SQL
    oracle reproduces the same two-step formulation term-for-term.
    """
    counts = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda b: F.size(
            F.filter(toks, lambda v: v == b.cast("long"))
        ).cast("double"),
    )
    norm = F.sqrt(
        F.aggregate(counts, F.lit(0.0), lambda acc, c: acc + c * c)
    )
    return F.when(
        norm > 0, F.transform(counts, lambda c: c / norm)
    ).otherwise(counts)


def rag_search(
    docs: DataFrame,
    query: str,
    k: int = 10,
    chunk_tokens: int = 64,
    stride: int = 48,
    dim: int = 32,
    text_col: str = "text",
) -> DataFrame:
    """End-to-end retrieval: chunk the corpus (:func:`chunk_split`),
    feature-hash every chunk and the query with the same md5 bucket
    map, rank chunks by cosine, return the top ``k`` — the full
    RAG-prep pipeline (split -> embed -> search) as ONE lazy plan
    ending in TakeOrderedAndProject.

    Cosine is computed in EXACT int64 product-sums, never through a
    densified vector: with integer bucket counts ``c_b`` (chunk) and
    ``q_b`` (query), ``cos = sum(c_b*q_b) / (sqrt(sum(c_b^2)) *
    sqrt(sum(q_b^2)))`` — the numerator and both sums of squares are
    exact integers, so addition order cannot perturb the result, and
    the single final divide is correctly-rounded IEEE on any engine
    (the same trick the exact-Pearson correlation operators use).
    Token rows shuffle as slim (chunk, bucket) ints through two
    hash-aggregates with map-side combine; there is no per-chunk
    dense array, no higher-order-function tree in the hot path (the
    earlier dense-vector formulation generated so much code that
    first-execution JVM warmup cost ~10x the steady-state query).
    The query's 32-int histogram is an O(|query|) driver-side
    constant folded into the plan as a literal.
    """
    # spread the CPU-bound tokenize+chunk+hash work across cores (the
    # single-file-corpus scan-task cap; dedup.py `spread` pattern)
    n_part = default_parallelism(docs.sparkSession)
    chunks = chunk_split(
        docs.repartition(n_part, "doc_id"), chunk_tokens, stride, text_col
    )
    qcnt = query_hash_counts(query, dim)
    ssq = sum(c * c for c in qcnt)
    tok = chunks.select(
        "doc_id",
        "chunk_id",
        "chunk_text",
        F.explode(hash_buckets(tokens(F.col("chunk_text")), dim)).alias(
            "__b"
        ),
    )
    cnt = tok.groupBy("doc_id", "chunk_id", "chunk_text", "__b").agg(
        F.count(F.lit(1)).alias("__c")
    )
    qlit = F.array(*[F.lit(int(c)) for c in qcnt])
    agg = cnt.groupBy("doc_id", "chunk_id", "chunk_text").agg(
        F.sum(
            F.col("__c")
            * F.element_at(qlit, (F.col("__b") + 1).cast("int"))
        ).alias("__dot"),
        F.sum(F.col("__c") * F.col("__c")).alias("__ss"),
    )
    cos = F.when(
        (F.col("__ss") > 0) & F.lit(ssq > 0),
        F.round(
            F.col("__dot")
            / (F.sqrt(F.col("__ss")) * F.sqrt(F.lit(float(ssq)))),
            6,
        ),
    ).otherwise(F.lit(0.0))
    return (
        agg.select(
            "doc_id",
            "chunk_id",
            "chunk_text",
            cos.alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), "doc_id", "chunk_id")
        .limit(k)
    )


def hybrid_rrf_search(
    docs: DataFrame,
    embeddings: DataFrame,
    query_terms: list[str],
    query_vec_id: int = 0,
    k: int = 10,
    rrf_k: int = 60,
    n_lex: int = 20,
    n_sem: int = 20,
) -> DataFrame:
    """HYBRID retrieval — BM25 lexical + embedding-cosine semantic
    legs fused with Reciprocal Rank Fusion (RRF, the standard
    score-free fusion: ``sum 1/(rrf_k + rank)`` per leg, rrf_k=60 from
    the original Cormack/Clarke/Buettcher formulation) — the
    two-tower RAG retrieval stack as ONE Spark plan.

    Rank-based fusion is what makes this oracle-exact across engines:
    each leg reduces to an INTEGER rank before fusion (BM25's int64
    tie-broken ``rk``; the semantic row_number over the rounded
    cosine), so the only floats crossing the fusion are
    ``1/(60 + int)`` rationals — no score-scale calibration, none of
    the cross-engine float-tree fragility score fusion would carry.

    Plan shape: the lexical leg is :func:`bm25_search`'s
    postings-filtered scan (corpus work = one column-pruned pass);
    the semantic leg is brute-force cosine top-n_sem here (the
    test-scale baseline — at 100 TB swap in
    ``similarity.ivfpq_persisted_topk`` over the stored index: the
    fusion consumes only (doc_id, rank), so the legs are
    interchangeable); both legs end k-row tiny, so the full-outer
    fusion join and the final sort are driver-scale. Doc and vector
    ids share the corpus id space (fixture contract: doc_id ==
    vec_id).

    Returns ``(doc_id, lex_rank, sem_rank, rrf_score)`` — null rank =
    that leg didn't retrieve the doc (its RRF term contributes 0)."""
    from pyspark.sql import Window

    from .similarity import cosine_topk

    lex = bm25_search(docs, query_terms, top_k=n_lex).select(
        "doc_id", F.col("rk").alias("lex_rank")
    )
    w = Window.orderBy(F.desc("cos_sim"), "vec_id")
    sem = (
        cosine_topk(embeddings, query_vec_id, n_sem)
        .withColumn("sem_rank", F.row_number().over(w).cast("long"))
        .select(F.col("vec_id").alias("doc_id"), "sem_rank")
    )
    term = lambda r: F.coalesce(  # noqa: E731
        F.lit(1.0) / (F.lit(rrf_k) + F.col(r)).cast("double"), F.lit(0.0)
    )
    return (
        lex.join(sem, "doc_id", "full_outer")
        .select(
            "doc_id",
            "lex_rank",
            "sem_rank",
            F.round(term("lex_rank") + term("sem_rank"), 6).alias(
                "rrf_score"
            ),
        )
        .orderBy(F.desc("rrf_score"), "doc_id")
        .limit(k)
    )
