"""Seeded pluggable-similarity fuzz campaign (round-5 endgame).

The LMDirichlet / LMJelinekMercer / DFR I(n)L2 similarities (and the
user-callable slot generally) had driver entries on the fixture corpora
but no randomized campaign. For each seed this draws a RANDOM corpus
(doc count, lengths, duplicate/empty docs, random stopword set) and a
set of random boolean query trees (Term boosts, And, Or+msm, Not,
DisMax — phrase-free: phrase weights are defined only for the named
modes), then checks the engine's RangeScorer algebra against the
independent brute-force oracle under:

  * the three pinned model callables (LM Dirichlet mu=2000, LM JM
    lambda=0.1, DFR InL2) — the exact objects the driver entries use;
  * parameterized variants (Dirichlet mu in {10, 500, 1e5}, JM lambda
    in {0.3, 0.7, 0.9}) — exercising smoothing extremes on the same
    plumbing (per-term f32 rounding, SHOULD accumulation, msm cuts,
    DisMax tie-breaks, top-k ordering with doc_id ties).

Every check demands identical doc ids AND bit-equal float32 scores.
Pure pandas/numpy (the scorer runs in-process on oracle-derived cells
— the same harness as tests/test_scorer.py), so seeds are cheap.
"""
from __future__ import annotations

import random
from collections import Counter

import numpy as np
import pandas as pd

from scripts.fuzz import expect
from sparklucene.analysis import ENGLISH_STOP_WORDS
from sparklucene.driver_queries import (_dfr_inl2_similarity,
                                        _lm_dirichlet_similarity,
                                        _lm_jelinek_mercer_similarity)
from sparklucene.oracle import build_oracle_index, search_oracle
from sparklucene.query import (And, DisMax, MatchNoDocs, Not, Or, Term,
                               prune_missing, rewrite)
from tests.test_scorer import _scorer_from_oracle

SEEDS = (100, 180_000)
SPARK = False

VOC = ["the", "a", "of", "fast", "slow", "join", "merge", "hash", "scan",
       "key", "data", "index", "block", "term", "beta", "gamma", "zz",
       "shuffle", "sort", "codec"]


def make_dirichlet(mu: float):
    def fn(tf, dl, df, cf, doc_count, sum_dl):
        score = (np.log(1.0 + tf / (mu * (cf / sum_dl)))
                 + np.log(mu / (dl + mu)))
        return np.maximum(score, 0.0)
    return fn


def make_jm(lam: float):
    def fn(tf, dl, df, cf, doc_count, sum_dl):
        return np.log(1.0 + ((1.0 - lam) * tf / dl)
                      / (lam * (cf / sum_dl)))
    return fn


def rand_corpus(rng: random.Random) -> pd.DataFrame:
    n = rng.choice([5, 15, 40, 100])
    texts = [" ".join(rng.choice(VOC) for _ in range(rng.randint(0, 30)))
             for _ in range(n)]
    if n >= 15:
        texts[1] = ""
        texts[3] = texts[7]
    return pd.DataFrame({"content": texts,
                         "doc_id": np.arange(n, dtype=np.int64)})


def rand_tree(rng: random.Random, depth: int = 0):
    """Phrase-free boolean trees: the callable slot defines per-term
    scoring only (phrase weights exist only for the named modes)."""
    r = rng.random()
    if depth >= 2 or r < 0.35:
        return Term(rng.choice(VOC),
                    boost=rng.choice([1.0, 1.0, 2.0, 0.5]))
    kids = tuple(rand_tree(rng, depth + 1)
                 for _ in range(rng.randint(2, 4)))
    if r < 0.55:
        return And(kids)
    if r < 0.8:
        msm = rng.choice([1, 1, 1, 2])
        return Or(kids, min_should_match=msm)
    if r < 0.9:
        return Not(rand_tree(rng, depth + 1), rand_tree(rng, depth + 1))
    return DisMax(kids, tiebreak=rng.choice([0.0, 0.1, 0.5]))


def check(ctx, seed: int) -> Counter:
    n: Counter = Counter()
    rng = random.Random(seed)
    sw = rng.choice([ENGLISH_STOP_WORDS, frozenset(),
                     frozenset({"the", "a", "of"})])
    oidx = build_oracle_index(rand_corpus(rng), stopwords=sw)
    present = set(oidx.tf["term"].unique())
    sims = [("lm_dirichlet", _lm_dirichlet_similarity),
            ("lm_jm", _lm_jelinek_mercer_similarity),
            ("dfr_inl2", _dfr_inl2_similarity),
            ("dirichlet_mu", make_dirichlet(rng.choice([10.0, 500.0, 1e5]))),
            ("jm_lam", make_jm(rng.choice([0.3, 0.7, 0.9])))]
    for _ in range(8):
        q = prune_missing(rewrite(rand_tree(rng)), present)
        if isinstance(q, MatchNoDocs):
            continue
        for name, fn in sims:
            sc = _scorer_from_oracle(oidx, fn, prune=True)
            for k in (3, 10):
                d, v = sc.topk(q, k)
                want = search_oracle(oidx, q, k, mode=fn)
                expect(n, name, d.tolist() == want["doc_id"].tolist()
                       and (v == want["score"].to_numpy()).all(),
                       lambda: f"k={k} q={q!r}: engine ({d.tolist()}, "
                       f"{v.tolist()}) != oracle {want.values.tolist()}")
    return n
