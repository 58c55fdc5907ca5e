"""Text-analysis operators for large-scale training-data pipelines.

Everything here is Catalyst-builtin expressions (JVM codegen, no Python in
the hot path): token statistics, quality scoring, n-gram language ID, and
shingle-based document fingerprinting over the ``documents`` corpus shape
(doc_id, text, lang, source, n_chars).

Determinism/parity: every derived number is integer arithmetic or a single
double division/expression, so a SQL oracle reproduces values bit-exactly.
At cluster scale all operators are narrow (per-row) transformations — no
shuffle — except fingerprint/groupBy variants, which partial-aggregate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sparklucene.analysis import ENGLISH_STOP_WORDS

TOKEN_EXPR = "regexp_extract_all(lower(text), '[a-z0-9_]+', 0)"
WS_TOKEN_EXPR = r"regexp_extract_all(text, '\\S+', 0)"

#: tiny per-language stopword marker profiles (public-knowledge function
#: words); deterministic argmax -> n-gram-free heuristic language ID
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is"),
    "de": ("der", "die", "das", "und", "ist"),
    "es": ("el", "los", "las", "es", "y"),
    "fr": ("le", "les", "des", "et", "est"),
    "zh": ("de", "shi", "le", "bu", "wo"),
}


def _hash60(col: Column) -> Column:
    """Deterministic 60-bit positive hash of a string, reproducible in
    DuckDB as ``('0x' || substring(md5(x),1,15))::BIGINT``."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def _gram_idxs(toks, n: int):
    """1-based start indexes of the doc's token n-grams — EMPTY when the
    doc has fewer than n tokens. (F.sequence(1, 0) yields a DESCENDING
    [1, 0] in Spark, unlike SQL range(); the guard prevents element_at
    from indexing past the array on short docs.)"""
    return F.when(F.size(toks) >= n,
                  F.sequence(F.lit(1), F.size(toks) - (n - 1))
                  ).otherwise(F.expr("CAST(array() AS array<int>)"))


def token_stats(docs: DataFrame) -> DataFrame:
    """Per-doc token accounting: whitespace tokens, analyzer tokens,
    distinct analyzer terms, and a BPE-ish subword proxy count
    (4-char pieces, ceil(len/4) per token)."""
    toks = F.expr(TOKEN_EXPR)
    return docs.select(
        "doc_id",
        F.size(F.expr(WS_TOKEN_EXPR)).cast("long").alias("n_ws_tokens"),
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_terms"),
        F.aggregate(toks, F.lit(0).cast("long"),
                    lambda acc, t: acc + F.ceil(F.length(t) / 4).cast("long")
                    ).alias("n_subwords"),
    )


def quality_score(docs: DataFrame) -> DataFrame:
    """Heuristic doc-quality components + a single combined score:
    stopword ratio (too low = non-language, too high = boilerplate),
    mean token length, alpha ratio. Mirrors common pretraining-data
    quality filters (length/punct/stopword heuristics).

    ``stop_ratio`` is the OCCURRENCE fraction (stopword tokens /
    tokens), the CCNet/Gopher semantics — not the distinct-stopword
    count, which is bounded by the stop-list size and would make any
    fixed ratio floor unsatisfiable for long documents."""
    toks = F.expr(TOKEN_EXPR)
    stop_arr = F.array(*[F.lit(w) for w in sorted(ENGLISH_STOP_WORDS)])
    n_tokens = F.size(toks).cast("long")
    n_stop = F.size(F.filter(
        toks, lambda t: F.array_contains(stop_arr, t))).cast("long")
    n_chars_tok = F.aggregate(toks, F.lit(0).cast("long"),
                              lambda a, t: a + F.length(t).cast("long"))
    alpha_chars = F.length(F.regexp_replace(F.col("text"), "[^A-Za-z]", "")).cast("long")
    out = docs.select(
        "doc_id", n_tokens.alias("n_tokens"), n_stop.alias("n_stop_tokens"),
        n_chars_tok.alias("n_token_chars"), alpha_chars.alias("n_alpha_chars"),
        F.length("text").cast("long").alias("n_chars_text"),
    )
    # try_divide: a token-less or char-less doc yields NULL ratios instead
    # of aborting the whole job under Spark 4 ANSI (DIVIDE_BY_ZERO).
    return out.select(
        "*",
        F.try_divide(F.col("n_stop_tokens"),
                     F.col("n_tokens").cast("double")).alias("stop_ratio"),
        F.try_divide(F.col("n_token_chars"),
                     F.col("n_tokens").cast("double")).alias("mean_token_len"),
        F.try_divide(F.col("n_alpha_chars"),
                     F.col("n_chars_text").cast("double")).alias("alpha_ratio"),
    )


def language_id(docs: DataFrame) -> DataFrame:
    """Marker-word language ID: count hits of each language's function-word
    profile among the doc's tokens; argmax with (count desc, lang asc)
    tie-break. Pure conditional aggregation — no UDF, no shuffle beyond
    the per-doc explode-free array ops."""
    toks = F.expr(TOKEN_EXPR)
    scores = [
        F.size(F.array_intersect(F.array_distinct(toks),
                                 F.array(*[F.lit(w) for w in ws])))
        .cast("long").alias(f"score_{lang}")
        for lang, ws in sorted(LANG_MARKERS.items())
    ]
    scored = docs.select("doc_id", F.col("lang").alias("labeled_lang"), *scores)
    # argmax over the fixed language set: greatest + chained when
    langs = sorted(LANG_MARKERS)
    best = F.greatest(*[F.col(f"score_{lg}") for lg in langs])
    pred = F.lit(None).cast("string")
    for lg in reversed(langs):  # earlier langs win ties -> build backwards
        pred = F.when(F.col(f"score_{lg}") == best, F.lit(lg)).otherwise(pred)
    # zero marker hits in EVERY profile = zero evidence: predict NULL,
    # not the alphabetically-first language
    pred = F.when(best > 0, pred)
    return scored.select("doc_id", "labeled_lang", *[f"score_{lg}" for lg in langs],
                         pred.alias("pred_lang"))


def fingerprint(docs: DataFrame, shingle: int = 4) -> DataFrame:
    """Order-insensitive document fingerprint: sum of 60-bit hashes of
    distinct token ``shingle``-grams, mod 2^61-1 — a content sketch stable
    under token reordering-free edits, used for near-dup triage."""
    toks = F.expr(TOKEN_EXPR)
    idxs = _gram_idxs(toks, shingle)
    shingles = F.array_distinct(F.transform(
        idxs, lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j)
                                           for j in range(shingle)])))
    h = F.aggregate(
        shingles, F.lit(0).cast("long"),
        lambda acc, s: (acc + F.pmod(_hash60(s), F.lit(2305843009213693951)))
        % 2305843009213693951)
    return docs.select("doc_id", F.size(shingles).cast("long").alias("n_shingles"),
                       h.alias("fingerprint"))


def unigram_logppl(docs: DataFrame) -> DataFrame:
    """Per-doc unigram cross-entropy against the corpus's own unigram LM
    — the cheap in-corpus stand-in for the KenLM-perplexity quality
    filter of CCNet-style pretraining pipelines (public knowledge:
    Wenzek et al. 2020, "CCNet: Extracting High Quality Monolingual
    Datasets from Web Crawl Data"): p(t) = cf_t / total_tokens over ALL
    raw tokens (no stop filter — the LM sees every token), and

        logppl(d) = (1/|d|) * Σ_{tokens w in d} -ln p(w)

    Low = repetitive/common text, high = rare-token-heavy; both tails
    get filtered in practice. Returns (doc_id, dl, logppl), empty docs
    excluded (no distribution to score against).

    Scale shape: tf = one (doc_id, term) partial-agg over the exploded
    stream; cf and dl reduce FROM tf (vocab-/corpus-sized, never a
    second token-stream shuffle); the total is a one-row broadcast. The
    per-doc sum is f32-rounded so the oracle's sum order cannot diverge.

    Precision note: the f32 round absorbs f64 partial-aggregate
    accumulation-order jitter EXCEPT for docs whose true sum sits
    within one f64-accumulation-epsilon of an f32 rounding boundary —
    a measure-zero set that no fixture has hit across the fuzz
    campaigns, but at 10^12 docs a caller comparing logppl across
    engines should treat the last f32 ulp as noise rather than a
    contract.
    """
    tok = docs.select("doc_id", F.explode(F.expr(TOKEN_EXPR)).alias("term"))
    tf = (tok.groupBy("doc_id", "term")
          .agg(F.count(F.lit(1)).cast("long").alias("tf")))
    cf = tf.groupBy("term").agg(F.sum("tf").cast("long").alias("cf"))
    dl = tf.groupBy("doc_id").agg(F.sum("tf").cast("long").alias("dl"))
    total = cf.agg(F.sum("cf").cast("double").alias("total"))
    contrib = (tf.join(cf, "term")
               .crossJoin(F.broadcast(total))
               .groupBy("doc_id")
               .agg(F.sum(F.col("tf").cast("double")
                          * -F.log(F.col("cf").cast("double")
                                   / F.col("total"))).alias("_h")))
    return (contrib.join(dl, "doc_id")
            .select("doc_id", "dl",
                    (F.col("_h") / F.col("dl").cast("double"))
                    .cast("float").cast("double").alias("logppl")))


def quality_filter(docs: DataFrame, min_dl: int = 20,
                   logppl_lo: float = 3.39, logppl_hi: float = 3.41,
                   min_stop_ratio: float = 0.01) -> DataFrame:
    """End-to-end pretraining quality filter — the composition a real
    data pipeline runs (public knowledge: the CCNet / Gopher filtering
    recipes): keep a document iff
      1. it is the CANONICAL copy of its exact-hash duplicate group
         (min doc_id per sha256, the exact-dedup keeper rule),
      2. its length clears ``min_dl`` analyzed tokens,
      3. its unigram log-perplexity sits inside the [lo, hi] band (both
         tails filtered — too-repetitive AND too-random), and
      4. its stopword ratio clears ``min_stop_ratio`` (non-language
         text drops).
    Returns (doc_id, dl, logppl, stop_ratio) for survivors.

    Scale shape: three partial-agg passes (logppl stream agg, per-doc
    ratios, sha256 groupBy) joined on doc_id — every stage is the same
    shape as its standalone operator; no new shuffles beyond them.
    """
    lp = unigram_logppl(docs)
    ratios = quality_score(docs).select("doc_id", "stop_ratio")
    sha = docs.select("doc_id", F.sha2(F.col("text"), 256).alias("sha"))
    keeper = sha.groupBy("sha").agg(F.min("doc_id").alias("keeper"))
    canon = (sha.join(keeper, "sha")
             .filter(F.col("doc_id") == F.col("keeper"))
             .select("doc_id"))
    return (lp.join(ratios, "doc_id").join(canon, "doc_id")
            .filter((F.col("dl") >= int(min_dl))
                    & (F.col("logppl") >= float(logppl_lo))
                    & (F.col("logppl") <= float(logppl_hi))
                    & (F.col("stop_ratio") >= float(min_stop_ratio)))
            .select("doc_id", "dl", "logppl", "stop_ratio"))


def duplicate_ngram_fraction(docs: DataFrame, n: int = 3) -> DataFrame:
    """Within-document repetition signal (the duplicate-n-gram fraction
    used by published pretraining quality filters, e.g. Gopher's
    repetition rules): 1 - distinct_ngrams/total_ngrams per doc. Narrow
    Catalyst array expressions — no explode, no shuffle, no Python."""
    toks = F.expr(TOKEN_EXPR)
    idxs = _gram_idxs(toks, n)
    grams = F.transform(
        idxs, lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j)
                                           for j in range(n)]))
    out = docs.select(
        "doc_id",
        F.size(grams).cast("long").alias("n_ngrams"),
        F.size(F.array_distinct(grams)).cast("long").alias("n_distinct"),
    )
    return out.select(
        "*",
        F.when(F.col("n_ngrams") > 0,
               (F.col("n_ngrams") - F.col("n_distinct"))
               / F.col("n_ngrams").cast("double"))
        .otherwise(F.lit(0.0)).alias("dup_ngram_frac"))


def _distinct_gram_hashes(docs: DataFrame, n: int) -> DataFrame:
    toks = F.expr(TOKEN_EXPR)
    idxs = _gram_idxs(toks, n)
    grams = F.array_distinct(F.transform(
        idxs, lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j)
                                           for j in range(n)])))
    return (docs.select("doc_id", F.explode(grams).alias("gram"))
            .select("doc_id", _hash60(F.col("gram")).alias("h")))


def contamination_scores(docs: DataFrame, bench: DataFrame,
                         n: int = 8) -> DataFrame:
    """Benchmark decontamination: per corpus doc, the fraction of its
    distinct token ``n``-gram hashes that occur anywhere in the benchmark
    set (the standard n-gram-overlap test-set contamination check for
    training corpora). Returns (doc_id, n_grams, n_hits, contamination).

    Scale shape: both sides explode to distinct 60-bit gram hashes; the
    join is an equi-join on the hash (8 bytes/row — never gram strings,
    never doc x doc). The benchmark side is distinct-reduced first and is
    normally tiny relative to the corpus, so AQE broadcasts it; at worst
    it is a shuffle join keyed by hash with partial aggregation."""
    cg = _distinct_gram_hashes(docs, n)
    bg = _distinct_gram_hashes(bench, n).select("h").distinct()
    totals = cg.groupBy("doc_id").agg(F.count("*").alias("n_grams"))
    hits = (cg.join(bg, "h", "left_semi")
            .groupBy("doc_id").agg(F.count("*").alias("n_hits")))
    return _contamination_tail(totals, hits)


def _contamination_tail(totals: DataFrame, hits: DataFrame) -> DataFrame:
    """Shared score assembly for both contamination forms — one place,
    so the exact and Bloom-prefiltered paths cannot drift."""
    return (totals.join(hits, "doc_id", "left")
            .select("doc_id", "n_grams",
                    F.coalesce(F.col("n_hits"), F.lit(0)).cast("long")
                    .alias("n_hits"))
            .select("*", (F.col("n_hits") / F.col("n_grams").cast("double"))
                    .alias("contamination")))


def _bloom_pos_sql(hcol: str, m: int, k: int) -> "list[str]":
    """SQL expressions for the ``k`` double-hashed Bloom probe positions
    of 60-bit hash column ``hcol`` in an ``m``-bit filter. Both the
    build side and the probe side derive positions from the same pinned
    formula, so membership is symmetric by construction."""
    h1 = f"pmod({hcol}, {m}L)"
    h2 = f"(pmod(xxhash64({hcol}), {m - 1}L) + 1L)"
    return [f"pmod({h1} + {i}L * {h2}, {m}L)" for i in range(k)]


def bloom_bitset(hashes: DataFrame, m_bits: int, k: int) -> DataFrame:
    """Build an ``m_bits``-bit Bloom filter over hash column ``h`` as a
    ONE-row DataFrame ``(bits array<bigint>)`` (64-bit words, dense).

    Scale shape: probe positions explode k-fold on the build side only,
    word partials combine via ``bit_or`` partial aggregation, and the
    driver materializes exactly ``m_bits/64`` longs — bounded by the
    FILTER size, never by the input row count. Pure codegen'd
    expressions throughout (no UDFs)."""
    if m_bits < 64 or m_bits % 64:
        raise ValueError(f"m_bits must be a positive multiple of 64, got {m_bits}")
    n_words = m_bits // 64
    pos = ", ".join(_bloom_pos_sql("h", m_bits, k))
    words = (hashes
             .select(F.explode(F.expr(f"array({pos})")).alias("pos"))
             .select(F.expr("cast(pos div 64 as int)").alias("w"),
                     F.expr("shiftleft(1L, cast(pmod(pos, 64) as int))")
                     .alias("b"))
             .groupBy("w").agg(F.bit_or("b").alias("bw")))
    return (words
            .agg(F.map_from_arrays(F.collect_list("w"),
                                   F.collect_list("bw")).alias("wm"))
            .select(F.expr(
                f"transform(sequence(0, {n_words - 1}),"
                " w -> coalesce(wm[w], 0L))").alias("bits")))


def bloom_might_contain_sql(hcol: str, bitscol: str, m_bits: int,
                            k: int) -> str:
    """Boolean SQL predicate: all ``k`` probe bits of ``hcol`` are set in
    the packed bitset column ``bitscol``. No false negatives; false
    positives at the filter's design rate (callers exact-verify)."""
    tests = []
    for p in _bloom_pos_sql(hcol, m_bits, k):
        tests.append(
            f"((shiftright({bitscol}[cast(({p}) div 64 as int)],"
            f" cast(pmod({p}, 64) as int)) & 1L) = 1L)")
    return "(" + " AND ".join(tests) + ")"


def contamination_scores_bloom(docs: DataFrame, bench: DataFrame,
                               n: int = 8,
                               fp_rate: float = 0.01) -> DataFrame:
    """``contamination_scores`` with a Bloom prefilter — IDENTICAL
    results (the Bloom's false positives are removed by the exact
    semi-join on survivors), different scale shape.

    At 100 TB the plain equi-join shuffles every distinct corpus gram
    hash. Here a Bloom bitset over the benchmark grams (sized for
    ``fp_rate``; ~9.6 bits/gram at 1 %) broadcasts to every task as one
    array<bigint> row, the corpus gram stream is filtered by the pure
    codegen'd probe predicate BEFORE any shuffle, and the exact
    semi-join then carries only true hits + the fp_rate sliver of
    misses — for a typically-uncontaminated corpus that cuts the
    shuffled volume by ~1/fp_rate. The broadcast is bounded by the
    BENCHMARK size (e.g. 1M grams ≈ 1.2 MB); for very large benchmark
    sets raise fp_rate or fall back to ``contamination_scores``."""
    import math

    if not 0.0 < fp_rate < 1.0:
        raise ValueError(f"fp_rate must be in (0, 1), got {fp_rate}")
    cg = _distinct_gram_hashes(docs, n)
    totals = cg.groupBy("doc_id").agg(F.count("*").alias("n_grams"))
    bg = _distinct_gram_hashes(bench, n).select("h").distinct()
    # size the filter from a CHEAP upper bound on the bench gram count
    # (sum of per-doc gram counts — one narrow agg, no explode/distinct
    # job, and no persist whose cache would outlive the call); a bound
    # above the true distinct count only LOWERS the fp rate
    toks = F.expr(TOKEN_EXPR)
    bound_row = (bench.agg(F.sum(F.greatest(F.size(toks) - (n - 1),
                                            F.lit(0))).alias("b"))
                 .first())
    n_bound = int(bound_row["b"] or 0)
    if n_bound == 0:
        return totals.select(
            "doc_id", "n_grams", F.lit(0).cast("long").alias("n_hits"),
            F.lit(0.0).alias("contamination"))
    m_bits = int(-n_bound * math.log(fp_rate) / (math.log(2) ** 2))
    m_bits = max(64, ((m_bits + 63) // 64) * 64)
    k = max(1, min(16, round(m_bits / n_bound * math.log(2))))
    bits = bloom_bitset(bg, m_bits, k)
    cand = (cg.crossJoin(F.broadcast(bits))
            .where(F.expr(bloom_might_contain_sql("h", "bits", m_bits, k)))
            .select("doc_id", "h"))
    hits = (cand.join(bg, "h", "left_semi")
            .groupBy("doc_id").agg(F.count("*").alias("n_hits")))
    return _contamination_tail(totals, hits)


def chunk_overlap(docs: DataFrame, size: int = 64,
                  stride: int = 48) -> DataFrame:
    """Sliding-window chunking — the RAG / long-context prep op: each
    document's token stream cut into windows of ``size`` tokens stepping
    ``stride`` (overlap = size - stride). Window starts are 0, stride,
    2·stride, …; the final window is the ragged tail (shorter than
    ``size``); a window is emitted only if it starts inside the doc, so
    a doc shorter than ``stride`` yields exactly one chunk and an empty
    doc yields none. Returns (doc_id, chunk_id, start_token, n_tokens,
    chunk_text) with chunk_text the space-joined analyzed tokens
    (detokenization is layout policy, pinned to single-space join).

    Scale shape: tokenize + per-row sequence explode — narrow, no
    shuffle; chunk counts derive from token counts, never from a
    corpus-wide window.
    """
    if stride <= 0 or stride > size:
        raise ValueError("chunk_overlap requires 0 < stride <= size "
                         f"(got size={size}, stride={stride})")
    toks = F.expr(TOKEN_EXPR)
    n = F.size(F.col("_toks"))
    starts = F.sequence(
        F.lit(0),
        F.greatest(F.ceil((n - F.lit(size)) / F.lit(stride)).cast("int"),
                   F.lit(0)) * F.lit(stride),
        F.lit(stride))
    base = (docs.select("doc_id", toks.alias("_toks"))
            .filter(F.size("_toks") > 0)
            .select("doc_id", "_toks",
                    F.posexplode(starts).alias("chunk_id", "start_token")))
    chunk = F.slice(F.col("_toks"), F.col("start_token") + 1, size)
    # no global orderBy here: the operator stays a narrow per-row map;
    # consumers that need an ordering sort their own (bounded) output
    return base.select(
        "doc_id", F.col("chunk_id").cast("long").alias("chunk_id"),
        F.col("start_token").cast("long").alias("start_token"),
        F.size(chunk).cast("long").alias("n_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"))


def pack_sequences(docs: DataFrame, budget: int, sep: int = 1,
                   bucket_size: int = 8192) -> DataFrame:
    """Concat-and-chunk sequence packing (the standard pretraining layout:
    docs laid end-to-end in doc_id order, ``sep`` separator tokens after
    each, cut into fixed ``budget``-token training sequences). Returns
    per doc: its global token offset and first/last sequence index.

    The global prefix sum is computed hierarchically so NO window ever
    runs unpartitioned over the corpus: per-doc cumsum inside
    ``doc_id // bucket_size`` buckets (partitioned window) + a cumsum
    over the per-bucket totals (a window over corpus/bucket_size rows —
    at 10^12 docs pick bucket_size so that table stays small, or add a
    third level). DuckDB mirrors it with one ordered window."""
    from pyspark.sql import Window

    toks = F.expr(TOKEN_EXPR)
    base = docs.select(
        "doc_id", (F.col("doc_id") / bucket_size).cast("long").alias("bkt"),
        (F.size(toks) + sep).cast("long").alias("cost"))
    wb = Window.partitionBy("bkt").orderBy("doc_id") \
        .rowsBetween(Window.unboundedPreceding, -1)
    bucket_tot = base.groupBy("bkt").agg(F.sum("cost").alias("btot"))
    wg = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    bucket_off = bucket_tot.select(
        "bkt", F.coalesce(F.sum("btot").over(wg), F.lit(0)).alias("boff"))
    out = (base
           .withColumn("loff", F.coalesce(F.sum("cost").over(wb), F.lit(0)))
           .join(F.broadcast(bucket_off), "bkt")
           .select("doc_id",
                   (F.col("boff") + F.col("loff")).alias("offset"),
                   F.col("cost").alias("n_tokens_sep")))
    # integer `div`, not floor(double /): offsets can exceed 2^53 at
    # 10^12-doc scale where double division loses exactness
    return out.select(
        "doc_id", "offset", "n_tokens_sep",
        F.expr(f"offset div {int(budget)}").cast("long").alias("first_seq"),
        F.expr(f"(offset + n_tokens_sep - 1) div {int(budget)}")
        .cast("long").alias("last_seq"))


def _frac_thr(fraction: float) -> str:
    """Hex threshold for an 8-hex-digit md5 prefix compare: keep rows
    whose prefix sorts strictly below it. fraction >= 1 uses 'g' (every
    hex digit < 'g', so everything passes); <= 0 uses '00000000' (nothing
    passes)."""
    if fraction >= 1.0:
        return "g"
    return format(max(int(fraction * 16 ** 8), 0), "08x")


def sample_key(key: Column, salt: str) -> Column:
    """8-hex-digit deterministic sampling key, reproducible in DuckDB as
    ``substring(md5('salt' || key::VARCHAR), 1, 8)``."""
    return F.substring(F.md5(F.concat(F.lit(salt), key.cast("string"))), 1, 8)


def deterministic_sample(docs: DataFrame, fraction: float,
                         key_col: str = "doc_id",
                         salt: str = "holdout-v1") -> DataFrame:
    """Reproducible hash sampling — the train/holdout split primitive of
    corpus pipelines: keep rows where the first 8 hex digits of
    ``md5(salt || key)`` sort below ``fraction * 16^8``.

    Unlike ``df.sample()`` (whose output depends on partition layout and
    seed plumbing), membership is a pure per-row function of the key, so
    the SAME rows are selected across runs, engines, repartitionings and
    scale tiers; disjoint splits come from disjoint fraction bands or
    different salts. Narrow transformation — no shuffle at any scale."""
    return docs.filter(sample_key(F.col(key_col), salt)
                       < F.lit(_frac_thr(fraction)))


def stratified_sample(docs: DataFrame, fractions: "dict[str, float]",
                      strata_col: str = "lang", key_col: str = "doc_id",
                      salt: str = "holdout-v1") -> DataFrame:
    """Per-stratum deterministic sampling (e.g. language rebalancing:
    downsample dominant languages, keep the rest). ``fractions`` maps
    stratum value -> keep fraction; strata absent from the map are
    DROPPED (explicit-allowlist contract). The per-stratum thresholds
    ship as a literal broadcast table, so the plan stays one narrow scan
    + broadcast hash join regardless of corpus size."""
    rows = [(k, _frac_thr(v)) for k, v in sorted(fractions.items())]
    fdf = docs.sparkSession.createDataFrame(
        rows, f"{strata_col} string, _thr string")
    return (docs.join(F.broadcast(fdf), strata_col, "inner")
            .filter(sample_key(F.col(key_col), salt) < F.col("_thr"))
            .drop("_thr"))


def mixture_sample(docs: DataFrame, weights: "dict[str, int]",
                   token_budget: int, strata_col: str = "lang",
                   key_col: str = "doc_id",
                   salt: str = "mix-v1") -> DataFrame:
    """Token-budget data mixing — the mixture-weights pass of published
    pretraining pipelines (The Pile / LLaMA-style): given INTEGER mixture
    weights per stratum and a global token budget, each stratum's token
    target is ``weight_s * token_budget // sum(weights)`` (integer
    floor), its keep-fraction is ``min(1, target / available_tokens)``,
    and rows are kept by the same deterministic md5-prefix predicate as
    ``deterministic_sample`` — so expected sampled tokens per stratum
    track the target, membership is layout/scale-invariant, and strata
    absent from ``weights`` are DROPPED (allowlist contract).

    Pinned threshold arithmetic (cross-engine bit-exact): the 32-bit key
    is ``('0x' || md5(salt || key)[1:8])::BIGINT``; the cut is
    ``least(floor((target::double / avail::double) * 2^32), 2^32)`` —
    ONE double division and one multiply, IEEE-identical in Spark and
    DuckDB; integer target/avail keep everything else exact.

    Returns sampled rows as (key, stratum, dl, target_tokens,
    avail_tokens) for audit.

    Scale shape: per-row token counts are narrow; availability is one
    partial-aggregated groupBy over strata (output = |strata| rows,
    broadcast back); the keep predicate is per-row. One tiny shuffle,
    never data-proportional driver state."""
    if not weights:
        raise ValueError("weights must name at least one stratum")
    sum_w = int(sum(weights.values()))
    dl = F.size(F.expr(TOKEN_EXPR)).cast("long")
    base = docs.select(F.col(key_col), F.col(strata_col), dl.alias("dl"))
    wdf = docs.sparkSession.createDataFrame(
        [(k, int(v)) for k, v in sorted(weights.items())],
        f"{strata_col} string, _w long")
    plan = (base.join(F.broadcast(wdf), strata_col)
            .groupBy(strata_col, "_w")
            .agg(F.sum("dl").alias("avail_tokens"))
            # a stratum whose docs are all token-less has nothing to
            # sample; dropping it here also avoids ANSI DIVIDE_BY_ZERO
            .filter(F.col("avail_tokens") > 0)
            .withColumn("target_tokens",
                        F.expr(f"_w * CAST({int(token_budget)} AS BIGINT) "
                               f"DIV CAST({sum_w} AS BIGINT)"))
            .withColumn("_thr", F.least(
                F.floor((F.col("target_tokens").cast("double")
                         / F.col("avail_tokens").cast("double"))
                        * F.lit(float(2 ** 32))).cast("long"),
                F.lit(2 ** 32)))
            .drop("_w"))
    key_int = F.conv(sample_key(F.col(key_col), salt), 16, 10).cast("long")
    return (base.join(F.broadcast(plan), strata_col)
            .filter(key_int < F.col("_thr"))
            .select(key_col, strata_col, "dl", "target_tokens",
                    "avail_tokens"))


#: PII patterns — deliberately alternation-free so Java regex (Spark,
#: leftmost-first backtracking) and RE2 (DuckDB, leftmost-longest) agree
#: on every match span; greedy character-class quantifiers behave
#: identically in both engines.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE_RE = r"\+\d[\d ]{7,}\d"


def remove_boilerplate_lines(docs: DataFrame, min_docs: int = 3,
                             text_col: str = "text",
                             bucket_col: str = "source") -> DataFrame:
    """Line-level boilerplate removal (the CCNet / RefinedWeb web-pipeline
    pass): a line that occurs in >= ``min_docs`` DISTINCT documents of the
    same ``bucket_col`` group (domain/source) is navigation/footer
    boilerplate and is dropped from every document; the per-doc remainder
    is reassembled in original line order.

    Pinned semantics: lines are '\\n'-separated; frequency counts the
    TRIMMED line and ignores all-whitespace lines (they are never
    removed); documents whose every line is boilerplate survive with
    clean_text = ''.

    Returns (doc_id, n_lines, n_removed, clean_text).

    Scale shape: posexplode (narrow per-row) -> two-phase distinct-doc
    count per (bucket, line_hash) with partial aggregation -> shuffle
    equi-join of lines against the (tiny, boilerplate-only) frequency
    side on (bucket, line_hash) -> per-doc reassembly keyed by doc_id.
    Never doc x doc; the broadcast-able side is only lines that ARE
    boilerplate, proportional to distinct templates, not corpus size.
    """
    pos_lines = docs.select(
        "doc_id", F.col(bucket_col).alias("bkt"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"))
    norm = F.trim(F.col("line"))
    lines = pos_lines.withColumn("lh", _hash60(norm)) \
                     .withColumn("blank", norm == "")
    freq = (lines.filter(~F.col("blank"))
            .groupBy("bkt", "lh")
            .agg(F.count_distinct("doc_id").alias("ndocs"))
            .filter(F.col("ndocs") >= min_docs))
    kept = (lines.join(freq, ["bkt", "lh"], "left_anti"))
    rebuilt = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"]),
            "\n").alias("clean_text"),
        F.count("*").cast("long").alias("n_kept"))
    totals = pos_lines.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_lines"))
    return (totals.join(rebuilt, "doc_id", "left")
            .select("doc_id", "n_lines",
                    (F.col("n_lines") - F.coalesce(F.col("n_kept"), F.lit(0))
                     ).cast("long").alias("n_removed"),
                    F.coalesce(F.col("clean_text"), F.lit(""))
                    .alias("clean_text")))


def remove_duplicate_spans(docs: DataFrame, n: int = 5,
                           min_docs: int = 2) -> DataFrame:
    """Cross-document duplicated-span removal — the span-level exact
    substring dedup of Lee et al. 2022 ("Deduplicating Training Data
    Makes Language Models Better"), at token n-gram granularity: a token
    ``n``-gram occurring in >= ``min_docs`` DISTINCT documents is a
    duplicated span, and every token covered by ANY duplicated span is
    removed from every document (all copies — the published ExactSubstr
    policy), the remainder reassembled in token order.

    Returns (doc_id, n_tokens, n_removed, clean_text).

    Scale shape: gram hashes explode narrowly per row; the duplicated-
    gram set reduces via partial-aggregated distinct-doc counts and is
    proportional to SHARED content, not corpus size; membership is a
    left_semi hash equi-join (8-byte keys) and coverage expansion is a
    bounded sequence explode (n per duplicated occurrence). Never
    doc x doc, never a global sort; per-doc reassembly shuffles by
    doc_id once.
    """
    toks = F.expr(TOKEN_EXPR)
    base = docs.select("doc_id", toks.alias("toks"))
    grams = F.transform(
        _gram_idxs(F.col("toks"), n),
        lambda i: F.concat_ws(" ", *[F.element_at(F.col("toks"), i + j)
                                     for j in range(n)]))
    occ = (base.select("doc_id",
                       F.posexplode(grams).alias("s0", "gram"))
           .select("doc_id", (F.col("s0") + 1).alias("s"),
                   _hash60(F.col("gram")).alias("h")))
    dup = (occ.groupBy("h")
           .agg(F.count_distinct("doc_id").alias("ndocs"))
           .filter(F.col("ndocs") >= min_docs)
           .select("h"))
    covered = (occ.join(dup, "h", "left_semi")
               .select("doc_id",
                       F.explode(F.sequence(
                           F.col("s"), F.col("s") + (n - 1))).alias("pos"))
               .distinct())
    tok_pos = base.select(
        "doc_id", F.posexplode(F.col("toks")).alias("p0", "tok")) \
        .select("doc_id", (F.col("p0") + 1).alias("pos"), "tok")
    kept = tok_pos.join(covered, ["doc_id", "pos"], "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                        lambda s: s["tok"]), " ").alias("clean_text"),
        F.count("*").cast("long").alias("n_kept"))
    totals = base.select("doc_id",
                         F.size("toks").cast("long").alias("n_tokens"))
    return (totals.join(rebuilt, "doc_id", "left")
            .select("doc_id", "n_tokens",
                    (F.col("n_tokens")
                     - F.coalesce(F.col("n_kept"), F.lit(0)))
                    .cast("long").alias("n_removed"),
                    F.coalesce(F.col("clean_text"), F.lit(""))
                    .alias("clean_text")))


def pii_scan(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """PII detection + redaction — the standard LLM-training-data
    scrubbing pass (emails / IPv4 addresses / international-format phone
    numbers).

    Returns (doc_id, n_emails, n_ipv4, n_phones, redacted) where
    ``redacted`` replaces matches with <EMAIL>/<IP>/<PHONE> tokens, in
    that fixed order (email first so an address is never half-eaten by
    the phone pattern).

    Each count is taken on the text as it stands WHEN that category is
    redacted (emails on raw text, IPv4 after email redaction, phones
    after both), so counts always reconcile with the redaction tokens
    actually emitted — 'a@1.2.3.4.net' is one email and zero IPs, not
    one of each.

    Scale shape: pure narrow Catalyst expressions (regexp_extract_all /
    regexp_replace run JVM-side) — no shuffle, no UDF, no driver data;
    linear scan bandwidth at any corpus size.
    """
    t = F.col(text_col)
    t_no_email = F.regexp_replace(t, PII_EMAIL_RE, "<EMAIL>")
    t_no_ip = F.regexp_replace(t_no_email, PII_IPV4_RE, "<IP>")
    red = F.regexp_replace(t_no_ip, PII_PHONE_RE, "<PHONE>")
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(t, F.lit(PII_EMAIL_RE), 0))
        .cast("long").alias("n_emails"),
        F.size(F.regexp_extract_all(t_no_email, F.lit(PII_IPV4_RE), 0))
        .cast("long").alias("n_ipv4"),
        F.size(F.regexp_extract_all(t_no_ip, F.lit(PII_PHONE_RE), 0))
        .cast("long").alias("n_phones"),
        red.alias("redacted"))


#: scheme://host extraction — shared by BOTH blocklist forms, whose
#: contract is exact per-row equality
_URL_HOST_RE = r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]+)"


def _url_host(url_col: str) -> Column:
    return F.lower(F.regexp_extract(F.col(url_col), _URL_HOST_RE, 1))


_BLANK_DOMAIN = ("blocklist domains must be non-empty: an empty entry would "
                 "match every hostless row in the expression form and none "
                 "in the table form")


def url_blocklist_filter(docs: DataFrame, blocklist: "tuple[str, ...]",
                         url_col: str = "url") -> DataFrame:
    """Domain blocklist filtering — the UT1/adult-list pass every web
    pretraining pipeline runs (public knowledge: CCNet / RefinedWeb /
    Dolma pipeline descriptions): extract the registrable host from the
    URL and drop documents whose host IS a blocked domain or is a
    SUBDOMAIN of one (``www.bad.com`` blocks under ``bad.com``).

    Adds ``domain`` (lowercased host) and ``blocked`` columns; callers
    filter ``~blocked``. The blocklist is an operator constant compiled
    into ONE narrow boolean expression — no join, no shuffle, no UDF; at
    100 TB this is a predicate inside the parquet scan. For blocklists
    beyond expression size (UT1 is ~4M domains) the same semantics
    become a broadcast left-semi join on the domain-suffix set; this
    function pins the expression form for operator-constant lists.
    A NULL url has no host, so ``blocked`` is NULL (three-valued, like
    the OR-chain itself) — pinned explicitly so the expression and
    table forms agree even for an empty blocklist. Empty or
    whitespace-only domains raise ValueError (both forms reject them).
    """
    if any(not b.strip() for b in blocklist):
        raise ValueError(_BLANK_DOMAIN)
    host = _url_host(url_col)
    blocked = F.lit(False)
    for b in sorted(set(blocklist)):
        d = b.lower()
        blocked = blocked | (host == d) | host.endswith("." + d)
    blocked = F.when(host.isNull(),
                     F.lit(None).cast("boolean")).otherwise(blocked)
    return docs.withColumn("domain", host).withColumn("blocked", blocked)


def url_blocklist_filter_table(docs: DataFrame, blocklist: DataFrame,
                               url_col: str = "url",
                               key_col: str = "doc_id") -> DataFrame:
    """:func:`url_blocklist_filter` for TABLE-SIZED blocklists (UT1 is
    ~4M domains — far past expression form): same semantics (a host is
    blocked iff it IS a listed domain or is a subdomain of one), same
    output columns (``domain``, ``blocked``), proven equal to the
    expression form on shared inputs (`tests/test_blocklist_table.py`).

    ``blocklist`` is a one-column (``domain``) DataFrame. Scale shape:
    each host explodes into its label-boundary suffix chain (bounded by
    label count, ~5/host — never a prefix-wildcard scan), hits resolve
    via an equi-join against the distinct blocklist (Spark broadcasts
    it when it fits, shuffle-joins otherwise), and one key-wise
    aggregate marks the row. The wide doc columns never ride through
    the explode — only (key, suffix) does. NULL urls yield
    ``blocked = NULL`` exactly like the expression form (whose OR-chain
    propagates the NULL host). ``key_col`` must be a UNIQUE, NON-NULL
    row key (the corpus doc_id contract): duplicate keys would smear
    one row's hit onto its siblings and NULL keys never match the
    hits join — both diverge from the per-row expression form. Input
    columns named like the working columns (``_k``, ``_sfx``, ``_blk``)
    raise ValueError; an empty or whitespace-only blocklist domain fails
    the job when the blocklist is read."""
    clash = [c for c in ("_k", "_sfx", "_blk") if c in docs.columns]
    if clash:
        raise ValueError(f"input columns {clash} collide with "
                         "url_blocklist_filter_table's working columns")
    with_host = docs.withColumn("domain", _url_host(url_col))
    labels = F.split(F.col("domain"), r"\.")
    sfx = F.transform(
        F.sequence(F.lit(0), F.size(labels) - 1),
        lambda i: F.array_join(F.slice(labels, i + 1,
                                       F.size(labels) - i), "."))
    narrow = (with_host
              .select(F.col(key_col).alias("_k"), F.explode(sfx).alias("_sfx"))
              .filter(F.col("_sfx") != ""))
    dom = F.lower(F.col("domain"))
    bl = blocklist.select(
        F.when(dom.rlike(r"^\s*$"), F.raise_error(F.lit(_BLANK_DOMAIN)))
        .otherwise(dom).alias("_sfx")).distinct()
    hits = (narrow.join(bl, "_sfx", "left_semi")
            .select(F.col("_k")).distinct()
            .withColumn("_blk", F.lit(True)))
    return (with_host
            .join(hits, with_host[key_col] == hits["_k"], "left")
            .drop("_k")
            .withColumn("blocked",
                        F.when(F.col("domain").isNull(),
                               F.lit(None).cast("boolean"))
                        .otherwise(F.coalesce(F.col("_blk"), F.lit(False))))
            .drop("_blk"))


def domain_cap_sample(docs: DataFrame, cap: int,
                      group_col: str = "source",
                      key_col: str = "doc_id",
                      salt: str = "domain-cap-v1") -> DataFrame:
    """Per-domain quota sampling — cap the number of documents any one
    domain/source contributes (the anti-domination pass of web corpus
    builds: one giant forum must not swamp the mixture).

    Keeps at most ``cap`` rows per ``group_col`` value, chosen by a
    DETERMINISTIC per-row rank (md5 of salt+key, ties by key) so the
    kept set is invariant under partitioning, engine and scale — the
    same contract as :func:`deterministic_sample`. Adds ``rk`` (1-based
    rank within the group).

    Scale shape: one hash-partitioned window (row_number per group).
    Skewed giant domains concentrate in single partitions — that is
    inherent to per-group ranking; at 100 TB pre-aggregate with a
    bounded per-partition top-``cap`` (partial top-k) before the final
    window if a single group exceeds a partition.
    """
    from pyspark.sql import Window
    rk = F.row_number().over(
        Window.partitionBy(group_col)
        .orderBy(F.md5(F.concat(F.lit(salt + ":"),
                                F.col(key_col).cast("string"))),
                 F.col(key_col)))
    return (docs.withColumn("rk", rk.cast("long"))
            .filter(F.col("rk") <= cap))
