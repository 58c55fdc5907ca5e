"""Seeded MoreLikeThis fuzz campaign (round-5 endgame).

more_like_this / interesting_terms / knn_text had fixture driver
entries but no randomized campaign. Each seed draws a random corpus
(doc count, lengths, duplicates, empty docs — including empty and
all-stopword SEED documents), builds a real index, and checks against
from-scratch mirrors built on an independent re-tokenization
(``re.findall(r"[a-z0-9_]+", text.lower())`` minus stopwords):

  - interesting_terms: (term, tf, df, f32 weight) rows must equal the
    mirror's tf·idf ranking under the (weight desc, term asc) pin, for
    max_terms in {3, 5} x min_df in {1, 2}.
  - more_like_this: engine top-k (seed excluded via the deletions
    path) must equal the brute-force oracle's ranking of the mirror's
    selected-term disjunction with the seed dropped — doc ids AND
    bit-equal float32 scores (mode=lucene8).
  - knn_text: TF-IDF cosine neighbors must equal a numpy mirror
    (shared-term candidates only, float32-rounded cosine, doc_id-asc
    ties, seed excluded).
"""
from __future__ import annotations

import math
import os
import random
import re
from collections import Counter

import numpy as np
import pandas as pd

from scripts.fuzz import expect
from sparklucene.analysis import ENGLISH_STOP_WORDS
from sparklucene.build import build_index
from sparklucene.mlt import interesting_terms, knn_text, more_like_this
from sparklucene.oracle import build_oracle_index, search_oracle
from sparklucene.query import Or, Term
from sparklucene.search import Index

SEEDS = (15, 200_000)
SPARK = True

VOC = ["the", "a", "of", "fast", "slow", "join", "merge", "hash", "scan",
       "key", "data", "index", "block", "term", "beta", "gamma", "zz",
       "codec", "shuffle"]


def toks(text: str) -> list[str]:
    return [t for t in re.findall(r"[a-z0-9_]+", text.lower())
            if t not in ENGLISH_STOP_WORDS]


def idf(df: int, n: int) -> float:
    return math.log(1.0 + (n - df + 0.5) / (df + 0.5))


def rand_corpus(rng: random.Random) -> pd.DataFrame:
    n = rng.choice([8, 20, 50])
    texts = [" ".join(rng.choice(VOC) for _ in range(rng.randint(0, 25)))
             for _ in range(n)]
    texts[1] = ""                       # empty doc (possible seed)
    texts[2] = "the of a"               # all-stopword doc
    if n >= 20:
        texts[3] = texts[7]
    return pd.DataFrame({
        "repo": "r", "path": [f"p{i}" for i in range(n)], "commit": "c",
        "lang": "en", "content": texts,
        "doc_id": np.arange(n, dtype=np.int64)})


def mirror_selection(pdf: pd.DataFrame, seed_doc: int, max_terms: int,
                     min_df: int, doc_count: int):
    tf = Counter(toks(pdf.loc[pdf["doc_id"] == seed_doc,
                              "content"].iloc[0]))
    df_of = Counter()
    for txt in pdf["content"]:
        df_of.update(set(toks(txt)))
    weighted = [(t, tf[t], df_of[t], tf[t] * idf(df_of[t], doc_count))
                for t in tf if df_of[t] >= min_df]
    return sorted(weighted, key=lambda x: (-x[3], x[0]))[:max_terms]


def check(ctx, seed: int) -> Counter:
    spark = ctx.spark
    n_: Counter = Counter()
    rng = random.Random(seed)
    pdf = rand_corpus(rng)
    d = os.path.join(ctx.tmp, "idx")
    corpus = spark.createDataFrame(pdf)
    build_index(spark, corpus, d, drange_size=rng.choice([16, 64]))
    idx = Index(spark, d)
    oidx = build_oracle_index(pdf)
    n = oidx.doc_count
    seeds = [1, 2] + rng.sample(range(len(pdf)), k=2)  # incl. empty
    for sd in seeds:
        max_terms = rng.choice([3, 5])
        min_df = rng.choice([1, 2])
        sel = mirror_selection(pdf, sd, max_terms, min_df, n)
        # ---- interesting_terms ----
        got = interesting_terms(idx, corpus, sd, max_terms=max_terms,
                                min_df=min_df).toPandas()
        want = [(t, tfv, dfv, float(np.float32(w)))
                for t, tfv, dfv, w in sel]
        expect(n_, "interesting_terms",
               [tuple(r) for r in got.itertuples(index=False)] == want,
               lambda: f"doc={sd} got={got.values.tolist()} want={want}")
        # ---- more_like_this ----
        got = (more_like_this(idx, corpus, sd, max_terms=max_terms,
                              k=5, min_df=min_df).toPandas()
               [["doc_id", "score"]])
        if not sel:
            want = got.iloc[:0]
        else:
            q = Or(tuple(Term(t) for t, _, _, _ in sel))
            want = search_oracle(oidx, q, k=6, mode="lucene8")
            want = want[want["doc_id"] != sd].head(5)
        expect(n_, "more_like_this",
               got["doc_id"].tolist() == want["doc_id"].tolist()
               and got["score"].to_numpy(np.float32).tolist()
               == want["score"].tolist(),
               lambda: f"doc={sd} got={got.values.tolist()} "
               f"want={want.values.tolist()}")
        # ---- knn_text (TF-IDF cosine) ----
        got = knn_text(idx, corpus, sd, k=5).toPandas()
        tf_seed = Counter(toks(pdf.loc[pdf["doc_id"] == sd,
                                       "content"].iloc[0]))
        df_of = Counter()
        all_toks = {int(r.doc_id): Counter(toks(r.content))
                    for r in pdf.itertuples(index=False)}
        for c in all_toks.values():
            df_of.update(set(c))
        qv = {t: tf_seed[t] * idf(df_of[t], n) for t in tf_seed}
        qn = math.sqrt(sum(v * v for v in qv.values()))
        rows = []
        for did, c in all_toks.items():
            if did == sd or not (set(c) & set(qv)):
                continue
            wv = {t: c[t] * idf(df_of[t], n) for t in c}
            dot = sum(wv[t] * qv[t] for t in set(wv) & set(qv))
            nrm = math.sqrt(sum(v * v for v in wv.values()))
            rows.append((did, float(np.float32(dot / (nrm * qn)))))
        rows.sort(key=lambda x: (-x[1], x[0]))
        want_rows = rows[:5]
        got_rows = [(int(r.doc_id), float(np.float32(r.cosine)))
                    for r in got.itertuples(index=False)]
        expect(n_, "knn_text", got_rows == want_rows,
               lambda: f"doc={sd} got={got_rows} want={want_rows}")
    return n_
