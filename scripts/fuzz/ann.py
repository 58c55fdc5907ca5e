"""Randomized ANN fuzz vs numpy mirrors (round-5).

Brute-force exact cosine, int8-quantized cosine, and 1-bit binary
Hamming top-k are pinned integer/float64 expression trees; this
campaign draws random embedding sets (random dims incl. non-multiples
of 32, duplicate vectors, zero vectors, antipodal pairs) and re-derives
each surface in numpy with the same pinned quantization rules:

  - cosine_topk: floor(x*4096 + 0.5) integer grid, exact long
    dot/norms, f64 cosine, ties vec_id asc
  - cosine_topk_int8: absmax scale=max|x|/127, floor(x/scale+0.5)
    clamp ±127, integer dot/norms
  - hamming_topk: sign bits (x > 0) packed 32/word, XOR popcount
"""
from __future__ import annotations

import random
from collections import Counter

import numpy as np
import pandas as pd

from scripts.fuzz import expect
from sparklucene.similarity import cosine_topk, cosine_topk_int8, hamming_topk

SEEDS = (15, 160_000)
SPARK = True


def _mirror_topk(q: np.ndarray, qids: list, k: int) -> list:
    """(qid, rank, vec_id, cosine) over integer vectors ``q``; zero-norm
    queries and candidates are excluded (their cosine is undefined)."""
    n2 = (q * q).sum(axis=1)
    out = []
    for qid in sorted(qids):
        if n2[qid] == 0:
            continue
        dots = q @ q[qid]
        denom = np.sqrt(float(n2[qid])) * np.sqrt(n2.astype(np.float64))
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = dots / denom
        cand = [(float(cos[i]), int(i)) for i in range(len(q))
                if i != qid and n2[i] > 0]
        cand.sort(key=lambda x: (-x[0], x[1]))
        out += [(qid, r + 1, vid, c) for r, (c, vid) in enumerate(cand[:k])]
    return out


def check(ctx, seed: int) -> Counter:
    n_: Counter = Counter()
    rng = random.Random(seed)
    npr = np.random.default_rng(seed)
    n = rng.choice([30, 100])
    dim = rng.choice([8, 17, 32, 50])
    emb = npr.normal(0, 1, (n, dim)).astype(np.float32)
    emb[1] = emb[0]          # duplicate
    emb[2] = -emb[0]         # antipodal
    if rng.random() < 0.5:
        emb[3] = 0.0         # zero vector
    pdf = pd.DataFrame({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": [row.tolist() for row in emb]})
    df = ctx.spark.createDataFrame(pdf).repartition(4)
    qids = rng.sample(range(4, n), rng.randint(1, 3))
    k = rng.choice([3, 7])

    # exact grid cosine mirror
    qg = np.floor(emb.astype(np.float64) * 4096 + 0.5).astype(np.int64)
    got = [(r["qid"], r["rank"], r["vec_id"], r["cosine"]) for r in
           cosine_topk(df, qids, k=k).orderBy("qid", "rank").collect()]
    want = _mirror_topk(qg, qids, k)
    expect(n_, "cosine", got == want,
           lambda: f"dim={dim}\n got={got[:8]}\nwant={want[:8]}")

    # int8 mirror
    amax = np.abs(emb.astype(np.float64)).max(axis=1)
    scale = amax / 127.0
    with np.errstate(divide="ignore", invalid="ignore"):
        q8 = np.floor(emb.astype(np.float64) / scale[:, None] + 0.5)
    q8 = np.clip(np.where(scale[:, None] == 0, 0, q8), -127, 127) \
        .astype(np.int64)
    got8 = [(r["qid"], r["rank"], r["vec_id"]) for r in
            cosine_topk_int8(df, qids, k=k).orderBy("qid", "rank").collect()]
    want8 = [w[:3] for w in _mirror_topk(q8, qids, k)]
    expect(n_, "int8", got8 == want8,
           lambda: f"dim={dim}\n got={got8[:8]}\nwant={want8[:8]}")

    # binary hamming mirror
    qid = qids[0]
    bits = (emb > 0)
    got_h = [(r["vec_id"], r["hamming"]) for r in
             hamming_topk(df, qid, dim, k=k).collect()]
    ham = (bits ^ bits[qid]).sum(axis=1)
    cand = sorted((int(ham[i]), int(i)) for i in range(n) if i != qid)
    want_h = [(i, h) for h, i in cand[:k]]
    expect(n_, "hamming", got_h == want_h,
           lambda: f"dim={dim}\n got={got_h}\nwant={want_h}")
    return n_
