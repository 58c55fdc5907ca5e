"""Randomized multi-passage highlighting fuzz vs a Python mirror
(round-5).

`highlight_passages` has a fully pinned spec (fixed window tilings,
idf-sum passage score f64→f32, top n_passages by score desc / start
asc, winners-only decode). This campaign re-derives it in plain Python
from the raw fixture text (re-tokenized in-process) + math.log idf, and
fuzzes random term sets, k, window sizes and passage counts.
"""
from __future__ import annotations

import functools
import math
import random
from collections import Counter

import duckdb
import numpy as np

from scripts.fuzz import expect
from sparklucene.analysis import AnalyzerConfig, analyze_flat
from sparklucene.driver_queries import index_for
from sparklucene.query import Or, Term
from sparklucene.search import highlight_passages, search

SEEDS = (25, 120_000)
SPARK = True


@functools.cache
def _fixture(spark, sf: str):
    """(index, term -> df, doc count, doc -> [(term, pos)])."""
    idx = index_for(spark, sf)
    stats = {r["term"]: int(r["df"]) for r in idx.termstats().collect()}
    pdf = duckdb.sql(f"select doc_id, text from read_parquet("
                     f"'{sf}/documents.parquet') order by doc_id").df()
    flat, docs, pos = analyze_flat(pdf["text"], pdf["doc_id"].to_numpy(),
                                   AnalyzerConfig())
    positions: dict = {}
    for t, d, p in zip(flat, docs, pos):
        positions.setdefault(int(d), []).append((t, int(p)))
    return idx, stats, int(idx.stats["doc_count"]), positions


def mirror(stats, N, positions, terms, winners, window, n_passages):
    idf = {t: math.log(1.0 + (N - stats[t] + 0.5) / (stats[t] + 0.5))
           for t in terms}
    out = []
    for did in winners:
        buckets: dict = {}
        for t, p in positions.get(did, ()):
            if t in idf:
                w0 = (p // window) * window
                sc, nm = buckets.get(w0, (0.0, 0))
                buckets[w0] = (sc + idf[t], nm + 1)
        ranked = sorted(((np.float32(sc), w0, nm)
                         for w0, (sc, nm) in buckets.items()),
                        key=lambda x: (-x[0], x[1]))[:n_passages]
        out += [(did, w0, nm, float(sc)) for sc, w0, nm in ranked]
    return out


def check(ctx, seed: int) -> Counter:
    n: Counter = Counter()
    idx, stats, N, positions = _fixture(ctx.spark, ctx.sf)
    rng = random.Random(seed)
    terms = rng.sample(sorted(stats), rng.randint(1, 3))
    q = (Term(terms[0]) if len(terms) == 1
         else Or(tuple(Term(t) for t in terms)))
    k = rng.choice([3, 5, 10])
    window = rng.choice([4, 8, 16, 32])
    n_passages = rng.choice([1, 2, 3])
    got = sorted((r["doc_id"], r["window_start"], r["n_matches"],
                  r["passage_score"]) for r in
                 highlight_passages(idx, q, k=k, window=window,
                                    n_passages=n_passages).collect())
    winners = [r["doc_id"] for r in search(idx, q, k=k, mode="f64").collect()]
    want = sorted(mirror(stats, N, positions, terms, winners, window,
                         n_passages))
    expect(n, "passages", got == want,
           lambda: f"terms={terms} k={k} window={window} np={n_passages}"
           f"\n got={got[:6]}\nwant={want[:6]}")
    return n
