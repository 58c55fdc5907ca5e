"""Randomized atomic-update fuzz vs a pure-Python merge mirror
(round-5).

`apply_atomic_updates` implements Solr's AtomicUpdateDocumentMerger op
set (set / inc / add / add-distinct / remove) as Catalyst expressions.
This campaign draws random corpora and random SEQUENCES of update
batches (overlapping doc sets, NULL per-field skips, unknown doc_ids,
duplicate values inside one update array, empty arrays) and replays the
same sequence through a dict-based Python mirror implementing the
reference semantics directly; the final relations must match exactly.
"""
from __future__ import annotations

import random
from collections import Counter

import pandas as pd

from scripts.fuzz import expect
from sparklucene.updates import apply_atomic_updates

SEEDS = (25, 97_000)
SPARK = True

WORDS = ["x", "y", "z", "w", "common", "extra"]


def mirror_batch(state: dict, batch: list, ops: dict) -> None:
    for row in batch:
        did = row["doc_id"]
        if did not in state:
            continue  # unknown doc ids ignored
        for col, op in ops.items():
            v = row[col]
            if v is None:
                continue
            cur = state[did][col]
            if op == "set":
                state[did][col] = v
            elif op == "inc":
                state[did][col] = cur + v
            elif op == "add":
                state[did][col] = list(cur) + list(v)
            elif op == "add-distinct":
                out = list(cur)
                for item in v:  # incremental check as the list grows
                    if item not in out:
                        out.append(item)
                state[did][col] = out
            elif op == "remove":
                state[did][col] = [e for e in cur if e not in set(v)]


def check(ctx, seed: int) -> Counter:
    n_: Counter = Counter()
    rng = random.Random(seed)
    n = rng.choice([20, 60])
    state = {i: {"title": f"t{i}", "views": i % 7,
                 "tags": [rng.choice(WORDS)
                          for _ in range(rng.randint(0, 3))]}
             for i in range(n)}
    corpus_pdf = pd.DataFrame(
        [{"doc_id": i, **state[i]} for i in range(n)])
    cur = ctx.spark.createDataFrame(corpus_pdf).repartition(4)

    for _ in range(rng.randint(1, 4)):  # a sequence of batches
        scalar_op = rng.choice([("title", "set"), ("views", "inc"),
                                ("views", "set")])
        mv_op = rng.choice(["add", "add-distinct", "remove"])
        ops = {scalar_op[0]: scalar_op[1], "tags": mv_op}
        batch = []
        ids = rng.sample(range(-3, n + 5),
                         rng.randint(1, n))  # unique ids, some unknown
        for did in ids:
            row = {"doc_id": did, "title": None, "views": None,
                   "tags": None}
            if rng.random() < 0.8:
                row[scalar_op[0]] = (f"s{rng.randrange(9)}"
                                     if scalar_op[0] == "title"
                                     else rng.randint(-2, 5))
            if rng.random() < 0.8:
                row["tags"] = [rng.choice(WORDS) for _ in
                               range(rng.randint(0, 4))]  # dupes ok
            batch.append(row)
        schema = ("doc_id long, title string, views long, "
                  "tags array<string>")
        updf = ctx.spark.createDataFrame(
            pd.DataFrame(batch)[["doc_id", "title", "views", "tags"]],
            schema)
        cur = apply_atomic_updates(cur, updf, ops).localCheckpoint()
        mirror_batch(state, batch, ops)

    got = {r["doc_id"]: (r["title"], r["views"], list(r["tags"]))
           for r in cur.collect()}
    want = {i: (state[i]["title"], state[i]["views"],
                list(state[i]["tags"])) for i in range(n)}
    expect(n_, "merge", got == want, lambda: {
        k: (got[k], want[k]) for k in want if got[k] != want[k]})
    return n_
