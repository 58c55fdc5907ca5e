"""Seeded payload-query fuzz campaign (round-5 endgame hardening).

PayloadScoreQuery / SpanPayloadCheckQuery previously had fixture unit
tests (tests/test_payloads.py) but no randomized campaign. For each
seed this draws a random corpus and payload mode and checks the whole
payload plane against from-scratch Python mirrors:

  * mode "position_mix" (standard analyzer, random stopword set): the
    mirror re-derives payload bytes from the independent brute-force
    oracle's (term, doc, pre-stop position) stream via the pinned
    ``1 + ((pos*31 + len(term)) % 8)`` assigner.
  * mode "delimited:<char>" (whitespace tokenizer): the mirror
    re-tokenizes with plain ``re.findall(r"\\S+")`` + lowercase + stop
    gaps and re-implements DelimitedPayloadTokenFilter's split rules
    (valid 0-255 integer suffix strips into the payload; anything else
    keeps its spelling with payload 1; stripped spellings merge with
    literal occurrences of the same term).

Checks per seed, every one bit-exact in mode="f64":

  - PayloadScore(term, fn in {max,min,avg,sum}, include_span_score in
    {True, False}): engine top-k == mirror top-k (doc ids AND float32
    scores), ties broken by doc_id.
  - PayloadCheck(term, byte) for present AND absent byte values:
    engine == mirror phrase-weighted scoring (freq = matching
    occurrences, summed-idf single-term weight).
  - term_payloads() codec round-trip: the decoded (doc, pos, payload)
    triples of a sampled term == the mirror's raw stream.
  - PayloadScore composes as an ordinary SHOULD clause:
    Or(payload, term) == per-doc float32 sum of the clause scores.
"""
from __future__ import annotations

import os
import random
import re
from collections import Counter

import numpy as np
import pandas as pd

from scripts.fuzz import expect
from sparklucene import bm25
from sparklucene.analysis import ENGLISH_STOP_WORDS, AnalyzerConfig
from sparklucene.build import build_index
from sparklucene.norms import quantize_length
from sparklucene.oracle import build_oracle_index
from sparklucene.query import Or, PayloadCheck, PayloadScore, Term
from sparklucene.search import Index, search, term_payloads

SEEDS = (25, 170_000)
SPARK = True

#: base vocabulary — word|N suffixes are attached by the generator
VOC = ["the", "a", "of", "fast", "slow", "join", "merge", "hash", "scan",
       "key", "data", "index", "block", "term", "beta", "gamma", "zz"]


def rand_corpus(rng: random.Random, delim: str | None) -> pd.DataFrame:
    """Random corpus; with a delimiter, sprinkle in-band payload
    suffixes including every fallback class the split rules define."""
    n = rng.choice([5, 15, 40, 80])
    texts = []
    for _ in range(n):
        words = []
        for _ in range(rng.randint(0, 30)):
            w = rng.choice(VOC)
            if delim and rng.random() < 0.4:
                roll = rng.random()
                if roll < 0.6:
                    w = f"{w}{delim}{rng.randint(0, 255)}"   # valid
                elif roll < 0.7:
                    w = f"{w}{delim}{rng.randint(256, 9999)}"  # out of range
                elif roll < 0.8:
                    w = f"{w}{delim}x{rng.randint(0, 9)}"     # non-integer
                elif roll < 0.9:
                    w = f"{w}{delim}"                          # empty tail
                else:                                          # double delim
                    w = f"{w}{delim}b{delim}{rng.randint(0, 255)}"
            words.append(w)
        texts.append(" ".join(words))
    if n >= 15:
        texts[1] = ""                 # empty doc
        texts[3] = texts[7]           # duplicate doc
    return pd.DataFrame({
        "repo": "r", "path": [f"p{i}" for i in range(n)], "commit": "c",
        "lang": "en", "content": texts,
        "doc_id": np.arange(n, dtype=np.int64)})


def mirror_stream_delimited(texts: list[str], stopwords: frozenset,
                            delim: str) -> pd.DataFrame:
    """(term, doc_id, pos, pay) for the whitespace+delimited chain,
    re-derived from scratch: \\S+ tokenize, lowercase, stop with
    position gaps, then the DelimitedPayloadTokenFilter split rules."""
    rows = []
    for did, text in enumerate(texts):
        toks = re.findall(r"\S+", text.lower())
        for pos, tok in enumerate(toks):
            if tok in stopwords:
                continue
            head, sep, tail = tok.rpartition(delim)
            if sep and head and tail.isdigit() and int(tail) <= 255:
                rows.append((head, did, pos, int(tail)))
            else:
                rows.append((tok, did, pos, 1))
    return pd.DataFrame(rows, columns=["term", "doc_id", "pos", "pay"]) \
        if rows else pd.DataFrame(
            {"term": [], "doc_id": [], "pos": [], "pay": []})


def mirror_doclens_delimited(texts: list[str],
                             stopwords: frozenset) -> np.ndarray:
    return np.array([sum(1 for t in re.findall(r"\S+", x.lower())
                         if t not in stopwords) for x in texts],
                    dtype=np.int64)


def expected_topk(stream: pd.DataFrame, dlq: np.ndarray, doc_count: int,
                  sum_dl: int, q, k: int) -> pd.DataFrame:
    """Mirror scoring for PayloadScore / PayloadCheck (mode='f64'):
    factor / matching-freq per doc, one final float32 cast."""
    tp = stream[stream["term"] == q.term]
    if tp.empty:
        return pd.DataFrame({"doc_id": [], "score": []})
    avgdl = sum_dl / float(doc_count)
    if isinstance(q, PayloadScore):
        g = tp.groupby("doc_id")["pay"]
        agg = {"max": g.max, "min": g.min, "avg": g.mean, "sum": g.sum}
        factor = agg[q.fn]().astype(np.float64)
        docs = factor.index.to_numpy(np.int64)
        if q.include_span_score:
            tf = g.count().to_numpy(np.float64)
            w = bm25.idf(docs.size, doc_count)
            d64 = dlq[docs].astype(np.float64)
            denom = tf + bm25.K1 * (1.0 - bm25.B + bm25.B * d64 / avgdl)
            score = (factor.to_numpy(np.float64) * (w * tf / denom)
                     ).astype(np.float32)
        else:
            score = factor.to_numpy(np.float64).astype(np.float32)
    else:  # PayloadCheck: freq = matching occurrences, phrase weight
        df_full = tp["doc_id"].nunique()
        m = tp[tp["pay"] == int(q.payload)]
        if m.empty:
            return pd.DataFrame({"doc_id": [], "score": []})
        pfreq = m.groupby("doc_id")["pay"].count()
        docs = pfreq.index.to_numpy(np.int64)
        w = bm25.idf(df_full, doc_count)
        d64 = dlq[docs].astype(np.float64)
        denom = (pfreq.to_numpy(np.float64)
                 + bm25.K1 * (1.0 - bm25.B + bm25.B * d64 / avgdl))
        score = (w * pfreq.to_numpy(np.float64) / denom).astype(np.float32)
    out = pd.DataFrame({"doc_id": docs,
                        "score": score.astype(np.float64)})
    return (out.sort_values(["score", "doc_id"], ascending=[False, True])
            .head(k).reset_index(drop=True))


def _ranked(df: pd.DataFrame) -> pd.DataFrame:
    return (df.sort_values(["score", "doc_id"], ascending=[False, True])
            .reset_index(drop=True))


def check_engine(n: Counter, idx, stream: pd.DataFrame, dlq: np.ndarray,
                 doc_count: int, sum_dl: int, rng: random.Random) -> None:
    terms = stream["term"].value_counts()
    if terms.empty:
        return
    picks = rng.sample(list(terms.index), k=min(3, len(terms)))
    for term in picks:
        queries = [PayloadScore(term, fn=fn, include_span_score=include)
                   for fn in ("max", "min", "avg", "sum")
                   for include in (True, False)]
        # PayloadCheck with a byte that exists and one that may not
        pays = stream.loc[stream["term"] == term, "pay"]
        queries += [PayloadCheck(term, payload=b)
                    for b in {int(pays.iloc[0]), rng.randint(0, 255)}]
        for q in queries:
            got = _ranked(search(idx, q, k=10, mode="f64").toPandas())
            want = expected_topk(stream, dlq, doc_count, sum_dl, q, 10)
            expect(n, type(q).__name__,
                   got["doc_id"].tolist() == want["doc_id"].tolist()
                   and got["score"].tolist() == want["score"].tolist(),
                   lambda: f"{q!r} got={got.values.tolist()} "
                   f"want={want.values.tolist()}")
    # codec round-trip: decoded (doc, pos, pay) == mirror stream
    term = picks[0]
    got = (term_payloads(idx, term).toPandas()
           .sort_values(["doc_id", "pos"]).reset_index(drop=True))
    want = (stream[stream["term"] == term][["doc_id", "pos", "pay"]]
            .sort_values(["doc_id", "pos"]).reset_index(drop=True))
    expect(n, "term_payloads",
           got["doc_id"].tolist() == want["doc_id"].tolist()
           and got["pos"].tolist() == want["pos"].tolist()
           and [int(x) for x in got["payload"]]
           == [int(x) for x in want["pay"]],
           lambda: f"{term} got={got.values.tolist()} "
           f"want={want.values.tolist()}")
    # SHOULD composition: Or(payload, term) == float32 sum of clauses
    other = picks[-1]
    pq = PayloadScore(term, fn="avg")
    full = search(idx, Or((pq, Term(other))), k=None, mode="f64").toPandas()
    a = search(idx, pq, k=None, mode="f64").toPandas()
    b = search(idx, Term(other), k=None, mode="f64").toPandas()
    comb = pd.concat([a, b]).groupby("doc_id")["score"].agg(
        lambda s: float(np.float32(np.float32(s.iloc[0])
                                   + np.float32(s.iloc[1]))
                        if len(s) == 2 else s.iloc[0]))
    same_docs = sorted(full["doc_id"]) == sorted(comb.index)
    expect(n, "Or(payload, term)", same_docs and np.allclose(
        full.set_index("doc_id")["score"].sort_index().to_numpy(),
        comb.sort_index().to_numpy(), rtol=1e-6, atol=0),
        "sum mismatch" if same_docs else "union mismatch")


def check(ctx, seed: int) -> Counter:
    spark = ctx.spark
    n: Counter = Counter()
    rng = random.Random(seed)
    d = os.path.join(ctx.tmp, "idx")
    if rng.random() < 0.5:
        # ---- mode A: position_mix over the standard analyzer ----
        sw = rng.choice([ENGLISH_STOP_WORDS, frozenset(),
                         frozenset({"the", "a", "of"})])
        pdf = rand_corpus(rng, delim=None)
        corpus = spark.createDataFrame(pdf)
        build_index(spark, corpus, d, drange_size=rng.choice([16, 64]),
                    stopwords=sw, payloads="position_mix")
        oidx = build_oracle_index(pdf, stopwords=sw)
        stream = oidx.tp.copy()
        lens = stream["term"].str.len().to_numpy(np.int64)
        stream["pay"] = (1 + ((stream["pos"].to_numpy(np.int64) * 31
                               + lens) % 8)).astype(np.int64)
        dl_by_doc = np.zeros(len(pdf), dtype=np.int64)
        dl_by_doc[oidx.doc_ids] = oidx.dl
        dlq = quantize_length(dl_by_doc)
        doc_count, sum_dl = oidx.doc_count, oidx.sum_dl
    else:
        # ---- mode B: delimited in-band payloads, whitespace ----
        delim = rng.choice(["|", "^"])
        sw = rng.choice([frozenset(), frozenset({"the", "beta"})])
        pdf = rand_corpus(rng, delim=delim)
        corpus = spark.createDataFrame(pdf)
        ana = AnalyzerConfig(tokenizer="whitespace", stopwords=sw)
        build_index(spark, corpus, d, drange_size=rng.choice([16, 64]),
                    analyzer=ana, payloads=f"delimited:{delim}")
        stream = mirror_stream_delimited(list(pdf["content"]), sw, delim)
        dl = mirror_doclens_delimited(list(pdf["content"]), sw)
        dlq = quantize_length(dl)
        doc_count, sum_dl = int((dl >= 1).sum()), int(dl.sum())
    check_engine(n, Index(spark, d), stream, dlq, doc_count, sum_dl, rng)
    return n
