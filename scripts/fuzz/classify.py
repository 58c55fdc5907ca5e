"""Randomized classifier fuzz vs Python/numpy mirrors (round-5).

`naive_bayes_classify` (log-prior + f32-rounded tf*log(cf+1) matched
mass + vocab-smoothed length penalty) and `knn_classify` (TF-IDF
cosine, f32 cosine rounding, neighbour/vote tie pins) are pinned
expression trees. This campaign draws random labelled corpora (2-4
classes, skewed class sizes, test docs with fully-unseen vocabulary)
and re-derives both classifiers in plain Python from the same regex
tokenizer.
"""
from __future__ import annotations

import math
import random
import re
from collections import Counter

import numpy as np
import pandas as pd

from scripts.fuzz import expect
from sparklucene.analysis import ENGLISH_STOP_WORDS
from sparklucene.classify import knn_classify, naive_bayes_classify

SEEDS = (20, 150_000)
SPARK = True

VOC = ["spark", "merge", "join", "scan", "filter", "window", "table",
       "hash", "batch", "vector", "stream", "agg", "the", "unseen_x",
       "unseen_y"]
TOKEN_RE = re.compile(r"[a-z0-9_]+")


def toks(text: str) -> list:
    return [t for t in TOKEN_RE.findall(text.lower())
            if t not in ENGLISH_STOP_WORDS]


def _diff(got: dict, want: dict) -> dict:
    return {k: (got.get(k), want.get(k)) for k in set(got) | set(want)
            if got.get(k) != want.get(k)}


def check(ctx, seed: int) -> Counter:
    n: Counter = Counter()
    rng = random.Random(seed)
    labels = [f"L{i}" for i in range(rng.randint(2, 4))]
    # per-class skewed token preferences so classes are learnable
    pref = {lb: rng.sample(VOC[:12], 4) for lb in labels}
    n_train = rng.choice([30, 80])
    train_rows = []
    for i in range(n_train):
        lb = rng.choice(labels if rng.random() < 0.5
                        else labels[:1])  # skew toward L0
        words = [rng.choice(pref[lb] if rng.random() < 0.7
                            else VOC[:12])
                 for _ in range(rng.randint(1, 20))]
        train_rows.append((i, lb, " ".join(words)))
    n_test = rng.randint(5, 15)
    test_rows = []
    for j in range(n_test):
        if rng.random() < 0.15:
            text = "unseen_x unseen_y"  # fully out-of-vocab
        else:
            text = " ".join(rng.choice(VOC)
                            for _ in range(rng.randint(1, 15)))
        test_rows.append((1000 + j, text))
    train = ctx.spark.createDataFrame(
        pd.DataFrame(train_rows, columns=["doc_id", "lang", "text"]))
    test = ctx.spark.createDataFrame(
        pd.DataFrame(test_rows, columns=["doc_id", "text"]))

    # ---- python NB mirror -----------------------------------------
    cls_cf: dict = {}
    cls_tot: Counter = Counter()
    cls_docs: Counter = Counter()
    vocab = set()
    for _, lb, text in train_rows:
        cls_docs[lb] += 1
        for t, c in Counter(toks(text)).items():
            cls_cf[(lb, t)] = cls_cf.get((lb, t), 0) + c
            cls_tot[lb] += c
            vocab.add(t)
    nb_want = {}
    for did, text in test_rows:
        tf = Counter(toks(text))
        dl = sum(tf.values())
        best = None
        for lb in sorted(labels):
            if cls_docs[lb] == 0:
                continue
            matched = 0.0
            for t, c in tf.items():
                cf = cls_cf.get((lb, t))
                if cf is not None:
                    matched += float(np.float32(
                        c * math.log(cf + 1.0)))
            s = (math.log(cls_docs[lb] / n_train) + matched
                 - dl * math.log(cls_tot[lb] + len(vocab)))
            if best is None or s > best[1] + 0.0 or \
                    (s == best[1] and lb < best[0]):
                if best is None or s > best[1]:
                    best = (lb, s)
        nb_want[did] = (best[0], float(np.float32(best[1])))
    got = {r["doc_id"]: (r["label"], r["score"]) for r in
           naive_bayes_classify(train, test).collect()}
    expect(n, "nb", got == nb_want, lambda: _diff(got, nb_want))

    # ---- python kNN mirror ----------------------------------------
    k = rng.choice([1, 3, 5])
    df_t: Counter = Counter()
    train_tf = []
    for tid, lb, text in train_rows:
        tf = Counter(toks(text))
        train_tf.append((tid, lb, tf))
        for t in tf:
            df_t[t] += 1
    idf = {t: math.log(1.0 + (n_train - d + 0.5) / (d + 0.5))
           for t, d in df_t.items()}
    knn_want = {}
    for did, text in test_rows:
        qtf = Counter(toks(text))
        qv = {t: c * idf[t] for t, c in qtf.items() if t in idf}
        qn = math.sqrt(sum(v * v for v in qv.values()))
        cos_list = []
        for tid, lb, tf in train_tf:
            tv = {t: c * idf[t] for t, c in tf.items()}
            dot = sum(tv[t] * qv[t] for t in qv if t in tv)
            if dot == 0.0 and not (set(qv) & set(tv)):
                continue  # no shared term -> no pair row
            tn = math.sqrt(sum(v * v for v in tv.values()))
            cos_list.append((float(np.float32(dot / (tn * qn))), tid,
                             lb))
        if not cos_list:
            continue
        cos_list.sort(key=lambda x: (-x[0], x[1]))
        votes = Counter(lb for _, _, lb in cos_list[:k])
        lab = sorted(votes.items(), key=lambda x: (-x[1], x[0]))[0]
        knn_want[did] = (lab[0], lab[1])
    got_k = {r["doc_id"]: (r["label"], r["votes"]) for r in
             knn_classify(train, test, k=k).collect()}
    expect(n, "knn", got_k == knn_want,
           lambda: f"k={k}: {_diff(got_k, knn_want)}")
    return n
