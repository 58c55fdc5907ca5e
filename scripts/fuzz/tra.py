"""Seeded time-routed-alias fuzz campaign (round-5 endgame).

The time-routed alias path (month-bucket sub-indexes, window-pruned
fan-out — Solr TRA) had a driver entry on the fixture corpus but no
randomized campaign. Each seed draws a random corpus with random
timestamps spanning 1-14 months (empty docs, duplicate texts, docs
clustered on bucket boundaries), builds a real TRA index, and checks
random query trees over random [start, end] windows:

  - windowed `time_routed_search(stats="global", mode="f64")` must
    equal the brute-force oracle built over EXACTLY the docs whose
    month bucket intersects the window (bucket-granularity pruning is
    the pinned semantics) — doc ids AND bit-equal float32 scores;
  - a window covering every bucket must equal the whole-corpus oracle;
  - a window before/after all data must return an empty frame;
  - end < start must raise.
"""
from __future__ import annotations

import os
import random
from collections import Counter
from datetime import date

import numpy as np
import pandas as pd

from scripts.fuzz import Mismatch, expect
from sparklucene.oracle import build_oracle_index, search_oracle
from sparklucene.query import And, MatchNoDocs, Or, Term, prune_missing
from sparklucene.routing import build_time_routed_index, time_routed_search

SEEDS = (12, 210_000)
SPARK = True

VOC = ["fast", "slow", "join", "merge", "hash", "scan", "key", "data",
       "index", "block", "the", "a"]


def rand_corpus(rng: random.Random) -> pd.DataFrame:
    n = rng.choice([10, 30, 80])
    n_months = rng.randint(1, 14)
    y0, m0 = 2024, rng.randint(1, 12)
    months = [(y0 + (m0 - 1 + i) // 12, (m0 - 1 + i) % 12 + 1)
              for i in range(n_months)]
    texts, ts = [], []
    for i in range(n):
        texts.append(" ".join(rng.choice(VOC)
                              for _ in range(rng.randint(0, 20))))
        y, m = rng.choice(months)
        ts.append(f"{y:04d}-{m:02d}-{rng.randint(1, 28):02d}")
    texts[0] = ""                              # empty doc
    if n >= 30:
        texts[3] = texts[7]
    return pd.DataFrame({
        "repo": "r", "path": [f"p{i}" for i in range(n)], "commit": "c",
        "lang": "en", "content": texts, "ts": ts,
        "doc_id": np.arange(n, dtype=np.int64)})


def rand_query(rng: random.Random):
    r = rng.random()
    if r < 0.4:
        return Term(rng.choice(VOC))
    kids = tuple(Term(rng.choice(VOC)) for _ in range(rng.randint(2, 3)))
    return And(kids) if r < 0.7 else Or(kids)


def compare(n: Counter, check: str, what: str, got: pd.DataFrame,
            want: pd.DataFrame) -> None:
    g = got[["doc_id", "score"]].reset_index(drop=True)
    expect(n, check, g["doc_id"].tolist() == want["doc_id"].tolist()
           and g["score"].to_numpy(np.float32).tolist()
           == want["score"].tolist(),
           lambda: f"{what}: got={g.values.tolist()} "
           f"want={want.values.tolist()}")


def check(ctx, seed: int) -> Counter:
    spark = ctx.spark
    n: Counter = Counter()
    rng = random.Random(seed)
    pdf = rand_corpus(rng)
    d = os.path.join(ctx.tmp, "tra")
    build_time_routed_index(spark, spark.createDataFrame(pdf), d,
                            ts_col="ts",
                            drange_size=rng.choice([16, 64]))
    buckets = sorted(pdf["ts"].str[:7].unique())
    oidx_all = build_oracle_index(pdf)
    present = set(oidx_all.tf["term"].unique())
    for _ in range(4):
        q = prune_missing(rand_query(rng), present)
        if isinstance(q, MatchNoDocs):
            continue
        # random window (may cover none, some, or all buckets)
        ys, ms = int(buckets[0][:4]), int(buckets[0][5:7])
        lo_off = rng.randint(-1, len(buckets))
        hi_off = lo_off + rng.randint(0, len(buckets))
        def mdate(off):
            y, m = ys, ms + off
            y += (m - 1) // 12
            m = (m - 1) % 12 + 1
            return date(max(1, y), m, rng.choice([1, 15, 28]))
        start, end = mdate(lo_off), mdate(hi_off)
        if end < start:        # same month, random days crossed
            end = start
        lo_b = f"{start.year:04d}-{start.month:02d}"
        hi_b = f"{end.year:04d}-{end.month:02d}"
        sub = pdf[(pdf["ts"].str[:7] >= lo_b)
                  & (pdf["ts"].str[:7] <= hi_b)]
        got = time_routed_search(spark, d, q, start, end, k=10,
                                 mode="f64",
                                 stats="global").toPandas()
        if sub.empty or not len(build_oracle_index(sub).tf):
            expect(n, "window", not len(got),
                   f"{lo_b}..{hi_b}: expected empty result")
        else:
            oidx = build_oracle_index(sub)
            want = search_oracle(
                oidx, prune_missing(q, set(oidx.tf["term"])),
                k=10, mode="f64")
            compare(n, "window", f"{lo_b}..{hi_b} q={q!r}", got, want)
    # full coverage == whole-corpus oracle
    q = prune_missing(rand_query(rng), present)
    if not isinstance(q, MatchNoDocs):
        got = time_routed_search(
            spark, d, q, date(2020, 1, 1), date(2030, 1, 1), k=10,
            mode="f64", stats="global").toPandas()
        want = search_oracle(oidx_all, q, k=10, mode="f64")
        compare(n, "full-window", f"q={q!r}", got, want)
    # end < start must raise
    try:
        time_routed_search(spark, d, Term("fast"), date(2025, 5, 1),
                           date(2025, 4, 1))
    except ValueError:
        n["end<start"] += 1
    else:
        raise Mismatch("end<start", "no ValueError raised")
    return n
