"""Randomized index-time-sort / early-termination fuzz (round-5).

`build_sorted_view` + `sorted_topk[_filtered]` promise: the
envelope-pruned, adaptively-grown file-prefix read returns EXACTLY the
rows a full sort of the whole view would — for any data distribution
(duplicated keys straddling file boundaries, constant keys, skewed
keys), ascending or descending, any k (0 < k, k == n, k >> n), and any
filter selectivity (including 0 survivors). This campaign draws random
key distributions and checks both against a full-shuffle orderBy of the
raw DataFrame.
"""
from __future__ import annotations

import os
import random
from collections import Counter

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from scripts.fuzz import expect
from sparklucene.sorted_index import (build_sorted_view, sorted_topk,
                                      sorted_topk_filtered)

SEEDS = (15, 95_000)
SPARK = True


def check(ctx, seed: int) -> Counter:
    spark = ctx.spark
    n_: Counter = Counter()
    rng = random.Random(seed)
    npr = np.random.default_rng(seed)
    n = rng.choice([50, 200, 1000])
    dist = rng.choice(["uniform", "dupes", "constant", "zipf"])
    if dist == "uniform":
        keys = npr.integers(0, 10 * n, n)
    elif dist == "dupes":
        keys = npr.integers(0, max(2, n // 20), n)  # heavy ties
    elif dist == "constant":
        keys = np.full(n, 7)
    else:
        keys = np.minimum(npr.zipf(1.3, n), 10_000)
    pdf = pd.DataFrame({"doc_id": np.arange(n, dtype=np.int64),
                        "key": keys.astype(np.int64),
                        "grp": npr.integers(0, 5, n)})
    df = spark.createDataFrame(pdf).repartition(rng.choice([2, 8]))
    asc = rng.random() < 0.5
    d = os.path.join(ctx.tmp, "view")
    build_sorted_view(df, d, by="key", ascending=asc,
                      n_partitions=rng.choice([2, 4, 8]))

    order = [F.col("key").asc() if asc else F.col("key").desc(),
             F.col("doc_id").asc()]
    for k in (1, rng.randint(2, max(2, n // 3)), n, n + 50):
        got = [tuple(r) for r in
               sorted_topk(spark, d, k,
                           columns=["key", "doc_id"]).collect()]
        want = [tuple(r) for r in
                df.orderBy(*order).select("key", "doc_id")
                .limit(k).collect()]
        expect(n_, "topk", got == want, f"dist={dist} asc={asc} k={k}")

    for _ in range(2):
        gv = rng.randrange(5)
        sel = rng.choice([F.col("grp") == gv,            # ~20 %
                          F.col("grp") < 0,              # empty
                          F.col("doc_id") % 2 == 0])     # 50 %
        k = rng.choice([3, 10, n])
        got = [tuple(r) for r in
               sorted_topk_filtered(spark, d, k, sel,
                                    columns=["key", "doc_id"])
               .collect()]
        want = [tuple(r) for r in
                df.filter(sel).orderBy(*order)
                .select("key", "doc_id").limit(k).collect()]
        expect(n_, "filtered", got == want, f"dist={dist} asc={asc} k={k}")
    return n_
