"""Seeded SQL-surface fuzz campaign (round-5 endgame).

`sparklucene.sqlsurface` (SURVEY.md §2.10 — the reference's Parallel
SQL handler, solr/core/.../handler/sql, re-expressed as one plain
``spark.sql`` statement with Catalyst in Calcite's seat) had a driver
entry on the fixture corpus but no randomized campaign. For each seed
this draws a RANDOM corpus (doc count, lengths, empty docs, duplicate
docs, stopword-only docs, mixed case / punctuation / digits to exercise
the `[a-z0-9_]+` tokenizer) and random term-set queries (1-4 distinct
terms, or/and mode, msm 1-3, k in {3, 10, 100}, with deliberately
missing terms mixed in), then checks THREE independent evaluations of
the same query against each other:

  1. the pure-SQL plan (`bm25_topk_sparksql` over a `documents` view —
     zero engine code, whole-stage codegen only);
  2. the packed-postings engine (`build_index` + `search(mode="f64")`
     after `prune_missing`, the serving path);
  3. the brute-force pandas oracle (`search_oracle(mode="f64")`).

Every check demands identical doc-id sequences AND bit-equal float32
scores across all three (ties broken score desc, doc_id asc — a total
order, so sequence equality is the strongest possible check). Edge
assertions per seed: an all-missing-terms query and an msm-exceeds-
matches query must come back empty from all three.
"""
from __future__ import annotations

import os
import random
from collections import Counter

import numpy as np
import pandas as pd

from scripts.fuzz import expect
from sparklucene.build import build_index
from sparklucene.oracle import build_oracle_index, search_oracle
from sparklucene.query import And, Or, Term, prune_missing, rewrite
from sparklucene.search import Index, search
from sparklucene.sqlsurface import bm25_topk_sparksql

SEEDS = (10, 230_000)
SPARK = True

VOC = ["fast", "slow", "join", "merge", "hash", "scan", "key", "data",
       "index", "block", "term", "codec", "sort_2", "x9", "zz"]
#: words that are NEVER indexed (stopwords or absent) — exercise pruning
MISSING = ["qqqq", "absent_term", "the", "of"]
#: decorations the [a-z0-9_]+ tokenizer must strip/split on
NOISE = ["", ",", ".", "!", "-", "é", ";"]


def rand_corpus(rng: random.Random) -> pd.DataFrame:
    n = rng.choice([6, 20, 60])
    texts = []
    for _ in range(n):
        words = []
        for _ in range(rng.randint(0, 25)):
            w = rng.choice(VOC + ["the", "a", "of"])
            if rng.random() < 0.3:
                w = w.upper() if rng.random() < 0.5 else w.capitalize()
            words.append(w + rng.choice(NOISE))
        texts.append(" ".join(words))
    texts[0] = ""                               # empty doc
    texts[1] = "the of a the"                   # stopword-only doc
    if n >= 20:
        texts[3] = texts[5]                     # exact duplicates
    return pd.DataFrame({"doc_id": np.arange(n, dtype=np.int64),
                         "text": texts})


def rand_query(rng: random.Random) -> tuple[list[str], str, int, int]:
    n_terms = rng.randint(1, 4)
    terms = rng.sample(VOC, n_terms)
    if rng.random() < 0.3:                      # mix in a missing term
        terms[rng.randrange(n_terms)] = rng.choice(MISSING)
    mode = rng.choice(["or", "or", "or", "and"])
    msm = rng.randint(1, min(3, len(terms))) if mode == "or" else 1
    k = rng.choice([3, 10, 100])
    return sorted(set(terms)), mode, msm, k


def as_f32(df: pd.DataFrame) -> tuple[list[int], list[np.float32]]:
    return (df["doc_id"].astype(np.int64).tolist(),
            [np.float32(s) for s in df["score"].tolist()])


def check(ctx, seed: int) -> Counter:
    spark = ctx.spark
    n: Counter = Counter()
    rng = random.Random(seed)
    pdf = rand_corpus(rng)
    oidx = build_oracle_index(pdf, text_col="text")
    present = set(oidx.tf["term"].unique())
    sdf = spark.createDataFrame(pdf)
    sdf.createOrReplaceTempView("documents")
    d = os.path.join(ctx.tmp, "idx")
    build_index(spark, sdf.withColumnRenamed("text", "content"), d,
                drange_size=rng.choice([8, 64]))
    idx = Index(spark, d)

    queries = [rand_query(rng) for _ in range(6)]
    # pinned edges: all terms missing; msm above any possible match
    queries.append((sorted(MISSING[:2]), "or", 1, 10))
    queries.append((sorted(rng.sample(VOC, 2)), "or", 2, 10))
    for terms, mode, msm, k in queries:
        tree = (And(tuple(Term(t) for t in terms)) if mode == "and"
                else Or(tuple(Term(t) for t in terms), min_should_match=msm))
        q_eng = prune_missing(rewrite(tree), present)
        res = {"sql": as_f32(spark.sql(bm25_topk_sparksql(
                   terms, k=k, msm=msm, mode=mode)).toPandas()),
               "engine": as_f32(search(idx, q_eng, k=k,
                                       mode="f64").toPandas()),
               "oracle": as_f32(search_oracle(oidx, q_eng, k=k,
                                              mode="f64"))}
        tag = f"{mode}/msm={msm}/k={k}/terms={terms}"
        if not res["sql"][0]:  # an empty result is one check, not three
            expect(n, "empty", res["sql"] == res["engine"] == res["oracle"],
                   lambda: f"{tag}: {res}")
            continue
        for a, b in (("sql", "engine"), ("sql", "oracle"),
                     ("engine", "oracle")):
            expect(n, f"{a}=={b}", res[a] == res[b],
                   lambda: f"{tag}: {a}={res[a]} {b}={res[b]}")
    return n
