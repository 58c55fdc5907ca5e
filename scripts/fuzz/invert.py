"""Extended invert/codec fuzz campaign (round-5 endgame hardening).

The build path is where round-4's ADVICE found a REAL bug (common-grams
emitting an unsorted token stream that corrupted postings), so this
campaign generalizes tests/test_invert_fuzz.py: for each seed it draws a
RANDOM analyzer chain (tokenizer x char filters x stop/stem/inject x
phonetic x grams/shingles), a random corpus shape (doc count, doc
length, empty docs, duplicate texts, unicode + punctuation + HTML-ish
noise), and a random drange_size, builds a REAL index through
`build_index`, and checks:

  - termstats (df, cf per term) == in-process `analyze_flat` recount
  - index-decoded positions of sampled terms == the in-process stream
  - `checkindex.verify_index` reports zero violations

(`analyze_flat` runs on both sides by design — the subject under test
is invert + codec + merge + manifests, not the token stream itself.)
"""
from __future__ import annotations

import os
import random
from collections import Counter

import numpy as np
import pandas as pd

from scripts.fuzz import expect
from sparklucene.analysis import (ENGLISH_STOP_WORDS, AnalyzerConfig,
                                  analyze_flat)
from sparklucene.build import build_index
from sparklucene.checkindex import verify_index
from sparklucene.search import Index, term_positions

SEEDS = (40, 40_000)
SPARK = True

VOC = ["the", "a", "of", "fast", "slow", "join", "merge", "hash", "scan",
       "key", "a_b", "the_who", "data", "who", "camelCaseToken",
       "snake_case_id", "café", "naïve", "x1", "<b>bold</b>",
       "a,b;c", "UPPER", "MiXeD", "0042", "", "zz"]


def rand_config(rng: random.Random) -> AnalyzerConfig:
    kw = {}
    kw["tokenizer"] = rng.choice(["standard", "standard", "standard",
                                  "whitespace"])
    if rng.random() < 0.3:
        kw["html_strip"] = True
    if rng.random() < 0.2:
        kw["char_pattern_replace"] = ((r"\d+", "num"),)
    if rng.random() < 0.3:
        kw["ascii_fold"] = True
    if rng.random() < 0.3:
        kw["split_word_delims"] = True
    kw["stopwords"] = rng.choice([ENGLISH_STOP_WORDS, frozenset(),
                                  frozenset({"the", "a", "of"})])
    kw["min_len"] = rng.choice([1, 1, 1, 2])
    if rng.random() < 0.25:
        kw["term_map"] = (("joins", "join"), ("merged", "merge"))
    stem_roll = rng.random()
    if stem_roll < 0.3:
        kw["stem"] = "porter"
        kw["stem_inject"] = rng.random() < 0.5
    if rng.random() < 0.15:
        kw["phonetic"] = "soundex"
        kw["phonetic_inject"] = rng.random() < 0.7
    gram_roll = rng.random()
    if gram_roll < 0.15:
        kw["ngram"] = (2, rng.choice([2, 3]))
    elif gram_roll < 0.3:
        kw["edge_ngram"] = (2, rng.choice([3, 4]))
    elif gram_roll < 0.5:
        lo = rng.choice([2, 2, 3])
        kw["shingle"] = (lo, rng.choice([lo, lo + 1]))
    elif gram_roll < 0.65:
        kw["common_grams"] = frozenset({"the", "a"})
    if rng.random() < 0.1:
        kw["reverse_tokens"] = True
    return AnalyzerConfig(**kw)


def rand_corpus(rng: random.Random) -> pd.DataFrame:
    n = rng.choice([5, 20, 60, 150])
    texts = []
    for i in range(n):
        ln = rng.randint(0, 40)
        texts.append(" ".join(rng.choice(VOC) for _ in range(ln)))
    if n >= 20:  # duplicate + empty docs
        texts[3] = texts[7]
        texts[1] = ""
    return pd.DataFrame({
        "repo": "r", "path": [f"p{i}" for i in range(n)], "commit": "c",
        "lang": "en", "content": texts,
        "doc_id": np.arange(n, dtype=np.int64)})


def check(ctx, seed: int) -> Counter:
    spark = ctx.spark
    n: Counter = Counter()
    rng = random.Random(seed)
    cfg = rand_config(rng)
    pdf = rand_corpus(rng)
    drange = rng.choice([1, 7, 16, 64])
    d = os.path.join(ctx.tmp, "idx")
    build_index(spark, spark.createDataFrame(pdf), d,
                drange_size=drange, analyzer=cfg)
    idx = Index(spark, d)

    flat, docs, pos = analyze_flat(pd.Series(pdf["content"].tolist()),
                                   pdf["doc_id"].to_numpy(), cfg)
    cf = Counter(flat)
    dfc = Counter(t for t, _d in set(zip(flat, docs)))
    got = {r["term"]: (r["df"], r["cf"]) for r in idx.termstats().collect()}
    want = {t: (dfc[t], cf[t]) for t in cf}
    def diff() -> str:
        extra = {t: got[t] for t in set(got) - set(want)}
        miss = {t: want[t] for t in set(want) - set(got)}
        changed = {t: (got[t], want[t]) for t in set(got) & set(want)
                   if got[t] != want[t]}
        return (f"cfg={cfg} drange={drange}\n  extra={extra} "
                f"missing={miss} diff={changed}")
    expect(n, "termstats", got == want, diff)

    for t in rng.sample(sorted(cf), min(3, len(cf))):
        tp = term_positions(idx, t).toPandas()
        exp = sorted((int(dd), int(pp))
                     for tt, dd, pp in zip(flat, docs, pos) if tt == t)
        expect(n, "positions", sorted(map(tuple, tp.to_numpy().tolist()))
               == exp, lambda: f"term={t!r} cfg={cfg}")

    nv = verify_index(idx).count()
    expect(n, "checkindex", not nv, lambda: f"violations={nv} cfg={cfg}")
    return n
