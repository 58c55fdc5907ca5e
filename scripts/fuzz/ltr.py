"""Randomized LTR rerank fuzz vs a Python scoring mirror (round-5).

`ltr_rerank` folds feature extraction (original score, field values
with defaults, term-match flags, MinMax normalizers) and the model
(LinearModel weighted sum / MultipleAdditiveTrees nested-CASE routing)
into one Catalyst expression over the k-bounded rerank window. This
campaign draws random feature sets, random models (random tree shapes,
thresholds that sometimes EQUAL feature values — the `<=`-goes-left
tie pin), and random queries, and re-derives the rerank in plain
Python/numpy from the first-pass hits.
"""
from __future__ import annotations

import functools
import random
from collections import Counter

import duckdb

from scripts.fuzz import expect
from sparklucene.driver_queries import index_for
from sparklucene.ltr import (AdditiveTreesModel, FieldValue, LinearModel,
                             OriginalScore, TermMatch, TreeNode, ltr_rerank)
from sparklucene.query import Or, Term
from sparklucene.search import matches, search

SEEDS = (25, 140_000)
SPARK = True

VOC = ["spark", "merge", "join", "scan", "filter", "window", "table",
       "hash", "batch", "vector"]


def rand_tree(rng: random.Random, feat_names: list, depth: int = 0
              ) -> TreeNode:
    if depth >= 3 or rng.random() < 0.4:
        return TreeNode(value=round(rng.uniform(-2, 2), 3))
    return TreeNode(feature=rng.choice(feat_names),
                    threshold=rng.choice([0.0, 0.5, 1.0,
                                          round(rng.uniform(0, 2), 2)]),
                    left=rand_tree(rng, feat_names, depth + 1),
                    right=rand_tree(rng, feat_names, depth + 1))


def py_tree(node: TreeNode, fv: dict) -> float:
    if node.value is not None:
        return float(node.value)
    if fv[node.feature] <= node.threshold:
        return py_tree(node.left, fv)
    return py_tree(node.right, fv)


@functools.cache
def _fixture(spark, sf: str):
    """(index, attrs frame, doc_id -> n_chars)."""
    doc_pdf = duckdb.sql(f"select doc_id, n_chars from read_parquet("
                         f"'{sf}/documents.parquet')").df()
    return (index_for(spark, sf), spark.createDataFrame(doc_pdf),
            dict(zip(doc_pdf["doc_id"], doc_pdf["n_chars"])))


def check(ctx, seed: int) -> Counter:
    n: Counter = Counter()
    idx, attrs, nchars = _fixture(ctx.spark, ctx.sf)
    rng = random.Random(seed)
    qterms = rng.sample(VOC, rng.randint(1, 3))
    q = (Term(qterms[0]) if len(qterms) == 1
         else Or(tuple(Term(t) for t in qterms)))
    flag_term = rng.choice(VOC)
    feats = (
        OriginalScore("orig", norm=rng.choice(
            [None, (0.0, 2.0)])),
        FieldValue("len", norm=(0.0, 400.0), col="n_chars"),
        TermMatch("has_t", term=flag_term),
    )
    names = [f.name for f in feats]
    if rng.random() < 0.5:
        model = LinearModel(
            weights=tuple((nm, round(rng.uniform(-2, 2), 3))
                          for nm in rng.sample(names,
                                              rng.randint(1, 3))),
            intercept=round(rng.uniform(-1, 1), 3))
    else:
        model = AdditiveTreesModel(trees=tuple(
            (round(rng.uniform(0.2, 1.5), 3), rand_tree(rng, names))
            for _ in range(rng.randint(1, 4))))
    k, rerank_k = rng.choice([(3, 10), (5, 20), (10, 10)])

    got = [(r["doc_id"], r["ltr_score"]) for r in
           ltr_rerank(idx, q, feats, model, k=k, rerank_k=rerank_k,
                      attrs=attrs).collect()]

    hits = [(r["doc_id"], r["score"]) for r in
            search(idx, q, k=rerank_k, mode="f64").collect()]
    flagged = {r["doc_id"] for r in
               matches(idx, Term(flag_term)).collect()}
    scored = []
    for did, orig in hits:
        fv = {}
        fv["orig"] = (orig if feats[0].norm is None
                      else (orig - feats[0].norm[0])
                      / (feats[0].norm[1] - feats[0].norm[0]))
        fv["len"] = (float(nchars[did]) - 0.0) / 400.0
        fv["has_t"] = 1.0 if did in flagged else 0.0
        if isinstance(model, LinearModel):
            s = float(model.intercept)
            for nm, w in model.weights:
                s = s + float(w) * fv[nm]
        else:
            s = 0.0
            for w, root in model.trees:
                s = s + float(w) * py_tree(root, fv)
        scored.append((did, s))
    want = sorted(scored, key=lambda x: (-x[1], x[0]))[:k]
    expect(n, "rerank", got == want,
           lambda: f"q={qterms} model={model}\n got={got}\nwant={want}")
    return n
