"""Randomized fuzz campaign for the dedup operators vs INDEPENDENT
pure-Python/numpy mirrors (round-5).

Every operator in sparklucene/dedup.py is re-derived here from first
principles (hashlib md5, set arithmetic, a union-find, numpy float64 —
none of the engine's Catalyst expressions), on corpora engineered to
hit the edge cases: exact duplicates, one-token-swapped near-dups,
docs shorter than the shingle size, empty docs, zero-norm embeddings,
duplicate and antipodal vectors, and multi-source blocking.

Mirrored surfaces:
  exact_dup_groups, minhash_signatures, lsh_candidate_pairs,
  lsh_candidates_incremental, simhash, simhash_pairs (vs a PURE
  hamming<=k oracle — also proves the pigeonhole banding loses no
  pair), ngram_jaccard_pairs (max_block None AND capped),
  embedding_neardup_pairs, dup_clusters (vs union-find),
  semantic_dedup (vs a full numpy re-derivation of the deterministic
  integer-grid spherical k-means + the id-ordered removal rule).
"""
from __future__ import annotations

import hashlib
import math
import random
import re
from collections import Counter, defaultdict

import numpy as np
import pandas as pd

from scripts.fuzz import expect
from sparklucene import dedup as D

SEEDS = (15, 52_000)
SPARK = True

TOKEN_RE = re.compile(r"[a-z0-9_]+")
VOCAB = ["alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf",
         "hotel", "india", "juliet", "kilo", "lima", "the", "and", "of"]
QUANT = 4096
LSH_PRIME = 2147483647
HASH30 = 1 << 30


def h60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def toks_of(text: str) -> list[str]:
    return TOKEN_RE.findall(text.lower())


def shingles_of(text: str, n: int) -> list[str]:
    tk = toks_of(text)
    if len(tk) < n:
        return []
    return list(dict.fromkeys(
        " ".join(tk[i:i + n]) for i in range(len(tk) - n + 1)))


def gen_corpus(rng: random.Random) -> pd.DataFrame:
    n = rng.randint(15, 40)
    rows, did = [], 0
    base_docs = []
    for i in range(n):
        did += rng.randint(1, 3)
        r = rng.random()
        if r < 0.06:
            text = ""
        elif r < 0.14:
            text = " ".join(rng.choice(VOCAB)
                            for _ in range(rng.randint(1, 2)))
        elif r < 0.35 and base_docs:
            text = rng.choice(base_docs)          # exact duplicate
        elif r < 0.55 and base_docs:
            tk = toks_of(rng.choice(base_docs))   # near-dup: 1 swap/drop
            if tk:
                j = rng.randrange(len(tk))
                if rng.random() < 0.5:
                    tk[j] = rng.choice(VOCAB)
                else:
                    tk = tk[:j] + tk[j + 1:]
            text = " ".join(tk)
        else:
            text = " ".join(rng.choice(VOCAB)
                            for _ in range(rng.randint(4, 25)))
            base_docs.append(text)
        rows.append({"doc_id": did, "text": text,
                     "source": f"src{rng.randint(0, 2)}"})
    df = pd.DataFrame(rows)
    df["doc_id"] = df["doc_id"].astype("int64")
    return df


def mirror_minhash(pdf: pd.DataFrame, shingle: int) -> dict[int, tuple]:
    out = {}
    for did, text in zip(pdf.doc_id, pdf.text):
        hs = [h60(s) for s in shingles_of(text, shingle)]
        if not hs:
            continue
        out[int(did)] = tuple(
            min((a * (h % HASH30) + b) % LSH_PRIME for h in hs)
            for a, b in D.MINHASH_COEFFS)
    return out


def mirror_bands(sigs: dict[int, tuple], rows_per_band: int):
    n_bands = len(D.MINHASH_COEFFS) // rows_per_band
    buckets = defaultdict(set)
    for did, sig in sigs.items():
        for b in range(n_bands):
            key = "_".join(str(sig[b * rows_per_band + r])
                           for r in range(rows_per_band))
            buckets[(b, key)].add(did)
    return buckets


def mirror_simhash(pdf: pd.DataFrame, bits: int) -> dict[int, int]:
    out = {}
    for did, text in zip(pdf.doc_id, pdf.text):
        tk = toks_of(text)
        if not tk:
            continue
        tf: dict[str, int] = defaultdict(int)
        for t in tk:
            tf[t] += 1
        v = 0
        for b in range(bits):
            s = sum(c * (((h60(t) >> b) & 1) * 2 - 1) for t, c in tf.items())
            if s > 0:
                v |= 1 << b
        out[int(did)] = v
    return out


class UF:
    def __init__(self):
        self.p: dict[int, int] = {}

    def find(self, x: int) -> int:
        self.p.setdefault(x, x)
        while self.p[x] != x:
            self.p[x] = self.p[self.p[x]]
            x = self.p[x]
        return x

    def union(self, a: int, b: int) -> None:
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.p[max(ra, rb)] = min(ra, rb)


def mirror_ivf(qg: np.ndarray, vec_ids: np.ndarray, n_centroids: int,
               iters: int):
    """numpy re-derivation of similarity.ivf_index's pinned k-means."""
    n2 = (qg * qg).sum(axis=1)
    nz = [i for i in range(len(vec_ids)) if n2[i] > 0]
    seeds = sorted(nz, key=lambda i: (h60(str(int(vec_ids[i]))),
                                      int(vec_ids[i])))[:n_centroids]
    seeds.sort(key=lambda i: int(vec_ids[i]))
    cents = [(cid, qg[i].astype(np.int64).copy(),
              int((qg[i].astype(np.int64) ** 2).sum()))
             for cid, i in enumerate(seeds)]

    def assign():
        lab = np.empty(len(vec_ids), dtype=np.int64)
        for r in range(len(vec_ids)):
            best = None
            for cid, s, sn2 in cents:
                if sn2 <= 0:
                    continue
                sc = float(np.float64(int((qg[r].astype(object) * s).sum()))
                           / math.sqrt(float(sn2)))
                key = (sc, -cid)
                if best is None or key > best[0]:
                    best = (key, cid)
            lab[r] = best[1]
        return lab

    lab = None
    for _ in range(iters):
        lab = assign()
        new_cents = []
        for cid, s, sn2 in cents:
            members = qg[lab == cid]
            if len(members) == 0:
                new_cents.append((cid, s, sn2))
                continue
            ns = members.astype(np.int64).sum(axis=0)
            nn2 = int((ns.astype(object) ** 2).sum())
            if nn2 == 0:
                new_cents.append((cid, s, sn2))
                continue
            new_cents.append((cid, ns, nn2))
        cents = new_cents
    return assign(), cents


def check(ctx, seed: int) -> Counter:
    spark = ctx.spark
    n_: Counter = Counter()
    rng = random.Random(seed)
    npr = np.random.default_rng(seed)
    pdf = gen_corpus(rng)
    docs = spark.createDataFrame(pdf).repartition(4)
    by_id = dict(zip((int(d) for d in pdf.doc_id), pdf.text))

    # ---- exact_dup_groups ----
    got = {(r.content_sha, r.n_copies, r.keeper_doc_id)
           for r in D.exact_dup_groups(docs).collect()}
    groups = defaultdict(list)
    for did, text in by_id.items():
        groups[hashlib.sha256(text.encode()).hexdigest()].append(did)
    exp = {(sha, len(ids), min(ids))
           for sha, ids in groups.items() if len(ids) > 1}
    expect(n_, "exact_dup_groups", got == exp, f"{got ^ exp}")

    # ---- minhash_signatures ----
    shingle = rng.choice([2, 3])
    sigs = mirror_minhash(pdf, shingle)
    got_sig = {int(r["doc_id"]): tuple(int(r[f"sig{i}"]) for i in
                                       range(len(D.MINHASH_COEFFS)))
               for r in D.minhash_signatures(docs, shingle).collect()}
    expect(n_, "minhash_signatures", got_sig == sigs,
           f"docs {sorted(set(got_sig) ^ set(sigs))} or values")

    # ---- lsh_candidate_pairs ----
    rpb = rng.choice([2, 4])
    buckets = mirror_bands(sigs, rpb)
    exp_pairs = set()
    for mem in buckets.values():
        ms = sorted(mem)
        for i in range(len(ms)):
            for j in range(i + 1, len(ms)):
                exp_pairs.add((ms[i], ms[j]))
    got_pairs = {(r.doc_a, r.doc_b) for r in
                 D.lsh_candidate_pairs(docs, shingle, rpb).collect()}
    expect(n_, "lsh_candidate_pairs", got_pairs == exp_pairs,
           f"{sorted(got_pairs ^ exp_pairs)}")

    # ---- lsh_candidates_incremental ----
    cut = rng.randint(1, len(pdf) - 1)
    new_pdf, old_pdf = pdf.iloc[:cut], pdf.iloc[cut:]
    nb = mirror_bands(mirror_minhash(new_pdf, shingle), rpb)
    cb = mirror_bands(mirror_minhash(old_pdf, shingle), rpb)
    exp_inc = set()
    for key, nmem in nb.items():
        for nd in nmem:
            for cd in cb.get(key, ()):
                exp_inc.add((nd, cd))
    got_inc = {(r.new_doc, r.corpus_doc) for r in
               D.lsh_candidates_incremental(
                   spark.createDataFrame(new_pdf),
                   spark.createDataFrame(old_pdf), shingle, rpb).collect()}
    expect(n_, "lsh_incremental", got_inc == exp_inc,
           f"{sorted(got_inc ^ exp_inc)}")

    # ---- simhash + simhash_pairs (vs PURE hamming oracle) ----
    bits = rng.choice([16, 32, 64])
    sh = mirror_simhash(pdf, bits)
    got_sh = {int(r["doc_id"]): int(r["simhash"])
              for r in D.simhash(docs, bits).collect()}
    expect(n_, "simhash", got_sh == sh,
           f"docs {sorted(set(got_sh) ^ set(sh))} or values")
    max_h = rng.choice([1, 2, 3])
    n_chunks = rng.choice([c for c in (2, 4, 8) if c > max_h and bits % c == 0])
    exp_sp = set()
    ids = sorted(sh)
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            ham = bin(sh[ids[i]] ^ sh[ids[j]]).count("1")
            if ham <= max_h:
                exp_sp.add((ids[i], ids[j], ham))
    got_sp = {(r.doc_a, r.doc_b, r.hamming) for r in
              D.simhash_pairs(docs, bits, max_h, n_chunks).collect()}
    expect(n_, "simhash_pairs", got_sp == exp_sp,
           f"{sorted(got_sp ^ exp_sp)}")

    # ---- ngram_jaccard_pairs (uncapped and capped) ----
    sh_sets = {did: set(shingles_of(text, shingle))
               for did, text in by_id.items()}
    src_of = dict(zip((int(d) for d in pdf.doc_id), pdf.source))
    minj = rng.choice([0.0, 0.3])
    for max_block in (None, rng.choice([1, 2, 4])):
        # shingle -> docs within source (for the cap rule)
        sfreq: dict[tuple, set] = defaultdict(set)
        for did, ss in sh_sets.items():
            for s in ss:
                sfreq[(src_of[did], s)].add(did)
        exp_j = {}
        ids = sorted(sh_sets)
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                a, b = ids[i], ids[j]
                if src_of[a] != src_of[b]:
                    continue
                shared = sh_sets[a] & sh_sets[b]
                if max_block is None:
                    generating = shared
                else:
                    generating = {s for s in shared
                                  if len(sfreq[(src_of[a], s)]) <= max_block}
                if not generating:
                    continue
                inter = len(shared)
                union = len(sh_sets[a]) + len(sh_sets[b]) - inter
                jac = inter / union
                if jac >= minj:
                    exp_j[(a, b)] = (inter, union)
        got_j = {(r.doc_a, r.doc_b): (r.n_inter, r.n_union)
                 for r in D.ngram_jaccard_pairs(
                     docs, shingle, minj, max_block).collect()}
        expect(n_, f"jaccard(cap={max_block})", got_j == exp_j,
               f"{sorted(set(got_j) ^ set(exp_j))}")

    # ---- dup_clusters over the LSH pairs (vs union-find) ----
    if exp_pairs:
        uf = UF()
        for a, b in exp_pairs:
            uf.union(a, b)
        exp_lab = {x: uf.find(x) for pr in exp_pairs for x in pr}
        got_lab = {r.node: r.comp for r in
                   D.dup_clusters(D.lsh_candidate_pairs(
                       docs, shingle, rpb)).collect()}
        expect(n_, "dup_clusters", got_lab == exp_lab,
               f"{ {k: (got_lab.get(k), exp_lab.get(k)) for k in set(got_lab) ^ set(exp_lab) or set()} }")

    # ---- embedding_neardup_pairs ----
    n, dim = rng.randint(12, 40), rng.choice([4, 8, 17])
    emb = npr.normal(0, 1, (n, dim)).astype(np.float32)
    emb[1] = emb[0]
    emb[2] = emb[0] + npr.normal(0, 0.01, dim).astype(np.float32)
    emb[3] = 0.0
    vec_ids = np.arange(10, 10 + n, dtype=np.int64)
    epdf = pd.DataFrame({"vec_id": vec_ids,
                         "embedding": [r.tolist() for r in emb]})
    edf = spark.createDataFrame(epdf).repartition(4)
    qg = np.floor(emb.astype(np.float64) * QUANT + 0.5).astype(np.int64)
    n2 = (qg * qg).sum(axis=1)
    n_planes = rng.choice([2, 4, 6])
    planes = np.array([[(i * 31 + j * 17) % 13 - 6 for j in range(dim)]
                       for i in range(n_planes)], dtype=np.int64)
    proj = qg @ planes.T
    bucket = ((proj > 0) << np.arange(n_planes)).sum(axis=1)
    minc = rng.choice([0.8, 0.95, 0.999])
    exp_nd = {}
    for i in range(n):
        for j in range(i + 1, n):
            if n2[i] == 0 or n2[j] == 0 or bucket[i] != bucket[j]:
                continue
            cos = float(int((qg[i].astype(object) * qg[j]).sum())
                        / (math.sqrt(float(n2[i])) * math.sqrt(float(n2[j]))))
            if cos >= minc:
                exp_nd[(int(vec_ids[i]), int(vec_ids[j]))] = cos
    got_nd = {(r.vec_a, r.vec_b): r.cosine for r in
              D.embedding_neardup_pairs(edf, minc, n_planes).collect()}
    expect(n_, "embedding_neardup",
           set(got_nd) == set(exp_nd)
           and all(got_nd[k] == exp_nd[k] for k in exp_nd),
           f"{sorted(set(got_nd) ^ set(exp_nd))}")

    # ---- semantic_dedup (full numpy k-means + removal-rule mirror) ----
    k = rng.choice([2, 3, 5])
    iters = rng.choice([1, 2])
    lab, cents = mirror_ivf(qg, vec_ids, k, iters)
    exp_rm = {}
    order = np.argsort(vec_ids)
    for cid in set(lab.tolist()):
        mem = [i for i in order if lab[i] == cid and n2[i] > 0]
        for bi in range(len(mem)):
            for ai in range(bi):
                a, b = mem[ai], mem[bi]
                cos = float(int((qg[a].astype(object) * qg[b]).sum())
                            / (math.sqrt(float(n2[a]))
                               * math.sqrt(float(n2[b]))))
                if cos >= minc:
                    key = int(vec_ids[b])
                    if key not in exp_rm:
                        exp_rm[key] = (cid, int(vec_ids[a]), cos)
                    break
    got_rm = {r.vec_id: (r.centroid, r.dropped_by, r.cosine) for r in
              D.semantic_dedup(edf, n_clusters=k, iters=iters,
                               min_cosine=minc).collect()}
    expect(n_, "semantic_dedup", got_rm == exp_rm,
           f"{ {kk: (got_rm.get(kk), exp_rm.get(kk)) for kk in set(got_rm) ^ set(exp_rm)} or 'value diff'}")

    return n_
