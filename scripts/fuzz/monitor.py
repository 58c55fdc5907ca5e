"""Randomized monitor (reverse search / percolator) fuzz vs a Python
brute-force matcher (round-5).

`monitor_match` routes each doc through an anchor-term presearch join
and verifies survivors with the span-capable matcher. This campaign
registers random standing query trees (terms, AND/OR with
minimum-should-match, NOT, exact phrases with stopword gaps, absent
terms) over random doc batches and compares the full (doc, query) alert
set against a from-scratch Python matcher over the same token stream
(regex tokenize + stopword drop with PRE-stop positions). Catches both
false alerts (verify too loose) and MISSED alerts (anchor presearch too
aggressive — the classic percolator failure mode).
"""
from __future__ import annotations

import random
import re
from collections import Counter

import numpy as np
import pandas as pd

from scripts.fuzz import expect
from sparklucene.analysis import ENGLISH_STOP_WORDS
from sparklucene.monitor import monitor_match
from sparklucene.query import And, MatchAllDocs, Not, Or, Phrase, Term

SEEDS = (20, 130_000)
SPARK = True

VOC = ["spark", "merge", "join", "scan", "filter", "window", "table",
       "hash", "batch", "vector", "the", "a", "fast", "slow",
       "zzz_absent"]
TOKEN_RE = re.compile(r"[a-z0-9_]+")


def tokenize(text: str):
    all_toks = TOKEN_RE.findall(text.lower())
    kept = [(t, i) for i, t in enumerate(all_toks)
            if t not in ENGLISH_STOP_WORDS]
    return kept


def py_match(q, kept) -> bool:
    tset = {t for t, _ in kept}
    if isinstance(q, MatchAllDocs):
        return True
    if isinstance(q, Term):
        return q.term in tset
    if isinstance(q, Phrase):
        pos_of = {}
        for t, p in kept:
            pos_of.setdefault(t, set()).add(p)
        base = q.slots[0]
        for p in pos_of.get(base[1], ()):
            if all(p + (off - base[0]) in pos_of.get(t, set())
                   for off, t in q.slots[1:]):
                return True
        return False
    if isinstance(q, And):
        return all(py_match(c, kept) for c in q.clauses)
    if isinstance(q, Or):
        n = sum(py_match(c, kept) for c in q.clauses)
        return n >= max(1, q.min_should_match)
    if isinstance(q, Not):
        return py_match(q.positive, kept) and not py_match(q.negative,
                                                           kept)
    raise TypeError(type(q))


def rand_query(rng: random.Random, depth: int = 0):
    r = rng.random()
    if depth >= 2 or r < 0.4:
        if rng.random() < 0.2:
            toks = [rng.choice(VOC[:10]) for _ in range(rng.randint(2, 3))]
            return Phrase(tuple((i, t) for i, t in enumerate(toks)))
        return Term(rng.choice(VOC))
    kids = tuple(rand_query(rng, depth + 1)
                 for _ in range(rng.randint(2, 3)))
    kind = rng.randint(0, 2)
    if kind == 0:
        return And(kids)
    if kind == 1:
        return Or(kids, min_should_match=rng.randint(1, 2))
    return Not(kids[0], kids[1])


def check(ctx, seed: int) -> Counter:
    n_: Counter = Counter()
    rng = random.Random(seed)
    queries = {f"q{i}": rand_query(rng) for i in range(rng.randint(3, 12))}
    n = rng.choice([30, 100])
    texts = [" ".join(rng.choice(VOC[:-1])
                      for _ in range(rng.randint(0, 25)))
             for _ in range(n)]
    pdf = pd.DataFrame({"doc_id": np.arange(n, dtype=np.int64),
                        "text": texts})
    docs = ctx.spark.createDataFrame(pdf).repartition(4)
    got = {(r["doc_id"], r["query_id"]) for r in
           monitor_match(docs, queries).collect()}
    want = set()
    for did, text in enumerate(texts):
        kept = tokenize(text)
        for qid, q in queries.items():
            if py_match(q, kept):
                want.add((did, qid))
    expect(n_, "alerts", got == want,
           lambda: f"missed={want - got} extra={got - want}\n"
           f"queries={queries}")
    return n_
