"""Randomized streaming==batch build equivalence campaign (round-5).

NRT/streaming indexing must converge to the SAME index the batch build
produces regardless of how the corpus is sliced into micro-batch file
drops. The pytest version pins one 2-wave split; this campaign draws a
random corpus, a random number of arrival waves with random (possibly
EMPTY or single-doc) slices, a random drange_size, and a random
analyzer, drains the stream with availableNow, and asserts:

  - stats (n_docs, doc_count, sum_dl) equal the batch build's
  - the full term dictionary (term, df, cf) is identical
  - top-k results for random queries are identical (docs AND scores)
  - verify_index is clean on the streamed index
"""
from __future__ import annotations

import os
import random
import shutil
from collections import Counter

import numpy as np
import pandas as pd

from scripts.fuzz import expect
from sparklucene.analysis import AnalyzerConfig
from sparklucene.build import build_index, load_stats
from sparklucene.checkindex import verify_index
from sparklucene.query import Or, Term
from sparklucene.search import Index, search
from sparklucene.streaming import index_stream_once

SEEDS = (15, 80_000)
SPARK = True
SCHEMA = ("repo string, path string, commit string, lang string, "
          "content string, doc_id long")

VOC = ["spark", "merge", "join", "scan", "filter", "window", "table",
       "hash", "batch", "vector", "stream", "agg", "the", "a"]


def check(ctx, seed: int) -> Counter:
    spark = ctx.spark
    n_: Counter = Counter()
    rng = random.Random(seed)
    tmp = ctx.tmp
    n = rng.choice([30, 80, 150])
    texts = [" ".join(rng.choice(VOC)
                      for _ in range(rng.randint(0, 25)))
             for _ in range(n)]
    pdf = pd.DataFrame({
        "repo": "r", "path": [f"p{i}" for i in range(n)],
        "commit": "c", "lang": "en", "content": texts,
        "doc_id": np.arange(n, dtype=np.int64)})
    corpus = spark.createDataFrame(pdf)
    drange = rng.choice([7, 16, 64])
    analyzer = rng.choice([None, AnalyzerConfig(shingle=(2, 2)),
                           AnalyzerConfig(stem="porter")])

    # random wave slicing: contiguous doc_id cuts, some waves empty
    n_waves = rng.randint(1, 5)
    cuts = sorted(rng.sample(range(n + 1), n_waves - 1)) \
        if n_waves > 1 else []
    bounds = [0] + cuts + [n]
    flat = os.path.join(tmp, "flat")
    os.makedirs(flat)
    for w in range(n_waves):
        lo, hi = bounds[w], bounds[w + 1]
        wave = corpus.filter((corpus.doc_id >= lo)
                             & (corpus.doc_id < hi))
        wdir = os.path.join(tmp, f"wave{w}")
        wave.repartition(rng.choice([1, 2])).write.parquet(wdir)
        for f in os.listdir(wdir):
            if f.endswith(".parquet"):
                shutil.copy(os.path.join(wdir, f),
                            os.path.join(flat, f"w{w}-{f}"))

    sdir = os.path.join(tmp, "stream-idx")
    bdir = os.path.join(tmp, "batch-idx")
    index_stream_once(spark, flat, SCHEMA, sdir, drange_size=drange,
                      checkpoint_dir=os.path.join(tmp, "ckpt"),
                      analyzer=analyzer)
    build_index(spark, corpus, bdir, drange_size=drange,
                analyzer=analyzer)
    ss, bs = load_stats(sdir), load_stats(bdir)
    for key in ("n_docs", "doc_count", "sum_dl"):
        expect(n_, "stats", ss[key] == bs[key],
               lambda: f"{key}: {ss[key]} != {bs[key]} (waves={bounds})")
    si, bi = Index(spark, sdir), Index(spark, bdir)
    expect(n_, "termstats", si.termstats().orderBy("term").collect()
           == bi.termstats().orderBy("term").collect(), f"waves={bounds}")
    for _ in range(3):
        terms = rng.sample(VOC, rng.randint(1, 3))
        q = Or(tuple(Term(t) for t in terms))
        s = search(si, q, k=10, mode="f64").collect()
        b = search(bi, q, k=10, mode="f64").collect()
        expect(n_, "search", s == b, lambda: f"q={q!r}")
    expect(n_, "checkindex", not verify_index(si).count())
    return n_
