"""Randomized spellcheck/suggester fuzz vs an independent Python mirror
(round-5).

The suggest family (spellcheck, prefix/infix suggest, word-break,
word-combine) is dictionary-only logic whose engine path runs on
Catalyst (F.levenshtein, startswith/contains pushdown, broadcast split
joins). This campaign pulls the term dictionary ONCE and re-derives
every surface in plain Python — including a from-scratch Levenshtein DP
(independent of the JVM's implementation) — then fuzzes random inputs:
vocab-term mutations (edit-distance neighbors), concatenations, random
garbage, unicode, empty-ish strings.

Checked invariants, each vs the Python mirror with the same pinned
ordering (distance asc / popularity desc / term asc, k-cut):

  - spellcheck(word, k, max_edits, min_prefix, only_more_popular)
  - suggest_prefix(prefix, k) / suggest_infix(fragment, k)
  - word_break(word, k, min_break_length)
  - word_combine(words, k)
"""
from __future__ import annotations

import functools
import random
from collections import Counter

from scripts.fuzz import expect
from sparklucene.driver_queries import index_for
from sparklucene.suggest import (spellcheck, suggest_infix, suggest_prefix,
                                 word_break, word_combine)

SEEDS = (30, 90_000)
SPARK = True


@functools.cache
def _dictionary(spark, sf: str):
    """(index, term -> (df, cf), sorted vocabulary), pulled ONCE."""
    idx = index_for(spark, sf)
    d = {r["term"]: (int(r["df"]), int(r["cf"]))
         for r in idx.termstats().collect()}
    return idx, d, sorted(d)


def lev(a: str, b: str) -> int:
    """Plain Wagner-Fischer DP — intentionally NOT the engine's path."""
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def mutate(rng: random.Random, w: str) -> str:
    ops = rng.randint(0, 3)
    s = list(w)
    alphabet = "abcdefghijklmnopqrstuvwxyz"
    for _ in range(ops):
        if not s:
            s = [rng.choice(alphabet)]
            continue
        r = rng.random()
        i = rng.randrange(len(s))
        if r < 0.34:
            s[i] = rng.choice(alphabet)           # substitute
        elif r < 0.67:
            s.insert(i, rng.choice(alphabet))     # insert
        else:
            del s[i]                              # delete
    return "".join(s)


def check(ctx, seed: int) -> Counter:
    n: Counter = Counter()
    idx, d, vocab = _dictionary(ctx.spark, ctx.sf)
    rng = random.Random(seed)
    base = rng.choice(vocab)
    word = rng.choice([mutate(rng, base), base,
                       base + rng.choice(vocab),
                       "".join(rng.choice("abcxyz")
                               for _ in range(rng.randint(1, 6)))])
    max_edits = rng.choice([1, 2])
    min_prefix = rng.choice([0, 1, 2])
    omp = rng.random() < 0.3
    k = rng.choice([3, 5, 8])

    got = [(r["term"], r["distance"], r["df"]) for r in
           spellcheck(idx, word, k=k, max_edits=max_edits,
                      min_prefix=min_prefix,
                      only_more_popular=omp).collect()]
    word_df = d.get(word, (0, 0))[0]
    cands = []
    for t, (df, _cf) in d.items():
        if t == word:
            continue
        if min_prefix > 0 and word and \
                not t.startswith(word[:min_prefix]):
            continue
        dist = lev(t, word)
        if dist > max_edits:
            continue
        if omp and df <= word_df:
            continue
        cands.append((t, dist, df))
    want = sorted(cands, key=lambda x: (x[1], -x[2], x[0]))[:k]
    expect(n, "spellcheck", got == want,
           lambda: f"word={word!r} me={max_edits} mp={min_prefix} "
           f"omp={omp}\n got={got}\nwant={want}")

    # prefix + infix suggest
    frag = base[:rng.randint(1, max(1, len(base)))]
    got_p = [(r["term"], r["df"], r["cf"]) for r in
             suggest_prefix(idx, frag, k=k).collect()]
    want_p = sorted(((t, df, cf) for t, (df, cf) in d.items()
                     if t.startswith(frag)),
                    key=lambda x: (-x[2], x[0]))[:k]
    expect(n, "prefix", got_p == want_p,
           lambda: f"frag={frag!r}\n{got_p}\n{want_p}")
    infix = base[rng.randint(0, max(0, len(base) - 2)):][:3]
    got_i = [(r["term"], r["df"], r["cf"]) for r in
             suggest_infix(idx, infix, k=k).collect()]
    want_i = sorted(((t, df, cf) for t, (df, cf) in d.items()
                     if infix in t),
                    key=lambda x: (-x[2], x[0]))[:k]
    expect(n, "infix", got_i == want_i,
           lambda: f"frag={infix!r}\n{got_i}\n{want_i}")

    # word break: concatenation of two vocab terms (and garbage)
    cat = rng.choice([rng.choice(vocab) + rng.choice(vocab), word])
    mbl = rng.choice([1, 2, 3])
    got_b = [(r["left_part"], r["right_part"], r["freq"]) for r in
             word_break(idx, cat, k=k, min_break_length=mbl).collect()]
    want_b = sorted(
        ((cat[:i], cat[i:], min(d[cat[:i]][0], d[cat[i:]][0]))
         for i in range(mbl, len(cat) - mbl + 1)
         if cat[:i] in d and cat[i:] in d),
        key=lambda x: (-x[2], x[0]))[:k]
    expect(n, "word_break", got_b == want_b,
           lambda: f"cat={cat!r} mbl={mbl}\n{got_b}\n{want_b}")

    # word combine: random word sequence, some adjacent pairs join
    ws = tuple(rng.choice([base[:2], base[2:], base, word])
               for _ in range(rng.randint(2, 4)))
    got_c = [(r["left_word"], r["right_word"], r["term"], r["df"])
             for r in word_combine(idx, ws, k=k).collect()]
    want_c = sorted(
        ((ws[i], ws[i + 1], ws[i] + ws[i + 1], d[ws[i] + ws[i + 1]][0])
         for i in range(len(ws) - 1) if ws[i] + ws[i + 1] in d),
        key=lambda x: (-x[3], x[2]))[:k]
    expect(n, "word_combine", got_c == want_c,
           lambda: f"ws={ws!r}\n{got_c}\n{want_c}")
    return n
