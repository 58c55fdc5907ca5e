"""Seeded query-parser fuzz campaign (round-5 endgame).

Two parsers, two invariants:

* classic ``query.parse`` — GENERATIVE: each seed assembles a random
  query string clause-by-clause while independently constructing the
  expected AST from the documented grammar pins (occur prefixes,
  AND/OR/NOT sugar rewrite, boosts-before-field split, field-qualified
  terms bypassing the stop filter, stopword vanishing, phrase stop
  gaps + slop, mixed-bracket/open-endpoint ranges, trailing-* Prefix
  vs Wildcard, ``~``/``~N`` fuzzy, must+should composition order,
  Not wrapping). ``parse(s)`` must equal ``rewrite(expected)`` —
  dataclass equality over the whole tree.

* ``query.parse_simple`` (SimpleQueryParser) — TOTAL LENIENCY: random
  soups of terms, operators, quotes and parens (including unbalanced
  everything) must never raise and must parse deterministically; the
  pinned spec tolerates all malformed input.
"""
from __future__ import annotations

import random
from collections import Counter

from scripts.fuzz import Mismatch, expect
from sparklucene.analysis import ENGLISH_STOP_WORDS
from sparklucene.query import (And, Fuzzy, MatchNoDocs, Not, Or, Phrase,
                               Prefix, Query, Term, TermRange, Wildcard,
                               parse, parse_simple, rewrite)

SEEDS = (300, 190_000)
SPARK = False

WORDS = ["fast", "slow", "join", "merge", "hash", "scan", "key", "data",
         "index", "block", "codec", "shuffle", "gamma", "zz9"]
STOPS = sorted(w for w in ("the", "a", "of", "and", "to", "in")
               if w in ENGLISH_STOP_WORDS)
FIELDS = ["title", "lang", "path2"]


def gen_clause(rng: random.Random):
    """Return (text, bucket, [nodes]) — bucket in {'must','should','neg'},
    nodes already reflect the documented per-clause parse pins."""
    pre = rng.choice(["", "", "", "+", "-"])
    bucket = {"+": "must", "-": "neg"}.get(pre, "should")
    kind = rng.random()
    if kind < 0.22:                                   # plain / stop term
        w = rng.choice(WORDS + STOPS)
        boost = rng.choice([None, None, 2.0, 0.5])
        txt = f"{pre}{w}" + (f"^{boost}" if boost else "")
        nodes = [] if w in ENGLISH_STOP_WORDS else \
            [Term(w, boost=boost or 1.0)]
        return txt, bucket, nodes
    if kind < 0.34:                                   # field:term
        w = rng.choice(WORDS + STOPS)                 # stop NOT filtered
        f = rng.choice(FIELDS)
        boost = rng.choice([None, 3.0])
        txt = f"{pre}{f}:{w}" + (f"^{boost}" if boost else "")
        return txt, bucket, [Term(w, boost=boost or 1.0, field=f)]
    if kind < 0.52:                                   # phrase
        ws = [rng.choice(WORDS + STOPS)
              for _ in range(rng.randint(2, 4))]
        slots = tuple((i, w) for i, w in enumerate(ws)
                      if w not in ENGLISH_STOP_WORDS)
        slop = rng.choice([None, None, 1, 3])
        f = rng.choice([None, None, "title"])
        txt = (pre + (f"{f}:" if f else "") + '"' + " ".join(ws) + '"'
               + (f"~{slop}" if slop else ""))
        ph = rewrite(Phrase(slots))
        if isinstance(ph, MatchNoDocs):
            return txt, bucket, []
        if isinstance(ph, Phrase):                    # pin: slop/field
            ph = Phrase(ph.slots, slop=slop or 0, field=f)
        return txt, bucket, [ph]
    if kind < 0.66:                                   # term range
        lo = rng.choice([None, rng.choice(WORDS)])
        hi = rng.choice([None, rng.choice(WORDS)])
        il, ih = rng.random() < 0.5, rng.random() < 0.5
        f = rng.choice([None, "title"])
        txt = (pre + (f"{f}:" if f else "")
               + ("[" if il else "{") + (lo or "*") + " TO "
               + (hi or "*") + ("]" if ih else "}"))
        return txt, bucket, [TermRange(lo=lo, hi=hi, include_lo=il,
                                       include_hi=ih, field=f)]
    if kind < 0.78:                                   # prefix / wildcard
        w = rng.choice(WORDS)
        if rng.random() < 0.5:
            return f"{pre}{w}*", bucket, [Prefix(w)]
        pat = w[:2] + rng.choice(["?", "*"]) + w[3:] + \
            rng.choice(["", "*"])
        node = (Prefix(pat[:-1]) if pat.endswith("*")
                and "*" not in pat[:-1] and "?" not in pat[:-1]
                else Wildcard(pat))
        return f"{pre}{pat}", bucket, [node]
    if kind < 0.9:                                    # fuzzy
        w = rng.choice(WORDS)
        ed = rng.choice([None, 0, 1, 2])
        txt = f"{pre}{w}~" + ("" if ed is None else str(ed))
        return txt, bucket, [Fuzzy(w, max_edits=2 if ed is None else ed)]
    # operator sugar over two plain words: expected per the documented
    # string rewrite (AND -> ' +', NOT -> ' -', OR -> ' ')
    w1, w2 = rng.choice(WORDS), rng.choice(WORDS)
    op = rng.choice(["AND", "OR", "NOT"])
    txt = f"{w1} {op} {w2}"
    first = [("should", Term(w1))]
    second = {"AND": ("must", Term(w2)), "OR": ("should", Term(w2)),
              "NOT": ("neg", Term(w2))}[op]
    return txt, None, first + [second]               # bucketed per node


def gen_query(rng: random.Random):
    parts, must, should, neg = [], [], [], []
    buckets = {"must": must, "should": should, "neg": neg}
    for _ in range(rng.randint(1, 5)):
        txt, bucket, nodes = gen_clause(rng)
        parts.append(txt)
        if bucket is None:                            # operator sugar
            for b, node in nodes:
                buckets[b].append(node)
        else:
            buckets[bucket].extend(nodes)
    if must and should:
        pos: Query = And(tuple(must) + tuple(should))
    elif must:
        pos = And(tuple(must))
    elif should:
        pos = Or(tuple(should))
    else:
        pos = MatchNoDocs()
    if neg:
        pos = Not(pos, Or(tuple(neg)))
    return " ".join(parts), rewrite(pos)


SOUP = list('ab +|()-"~*?:^[]{} ') + ["fast", "the", "TO", '"x y"', "(("]


def check(ctx, seed: int) -> Counter:
    n: Counter = Counter()
    rng = random.Random(seed)
    for _ in range(10):
        s, want = gen_query(rng)
        got = parse(s)
        expect(n, "classic", got == want,
               lambda: f"s={s!r}\n got={got!r}\n want={want!r}")
    for _ in range(20):
        soup = "".join(rng.choice(SOUP) for _ in range(rng.randint(0, 25)))
        op = rng.choice(["or", "and"])
        try:
            q1 = parse_simple(soup, default_op=op)
            q2 = parse_simple(soup, default_op=op)
        except Exception as exc:                      # leniency violated
            raise Mismatch("simple", f"soup={soup!r}: "
                           f"{type(exc).__name__}: {exc}") from exc
        expect(n, "simple", isinstance(q1, Query) and q1 == q2,
               lambda: f"nondeterministic: {soup!r}")
    return n
