"""Randomized routed-vs-unsharded equivalence campaign (round-5).

The distributed serving operators (routed fan-out search with global
stats, two-phase facet refinement, two-phase grouping) carry the
engine's weakest evidence tier — pinned tests + driver entries on ONE
fixture. This campaign re-derives their exactness contracts on RANDOM
corpora: for each seed it draws a corpus (doc count, text length, route
cardinality, optional 70 % route skew), builds BOTH a routed collection
and one whole-corpus index, and asserts for random Or/And queries:

  1. routed_search(route=None, stats="global") == unsharded search
     (same docs AND bit-equal float32 scores — the ExactStatsCache
     contract; mode f64)
  2. routed_facet_field returned buckets carry EXACT counts == the
     unsharded facet counts of those buckets, and when every shard's
     bucket domain fits limit+overrequest (ship-all), the top-limit SET
     equals the unsharded one (the softened round-5 contract)
  3. routed_grouped_topk == grouped top-k re-derived from the whole
     index (global stats + max-score heads exactness argument)
  4. compositeId router: hashed_search full fan-out with global stats
     == unsharded (bit-equal), and route_key=K pruning still returns
     EVERY matching doc whose shard key is K (ring-window correctness)
"""
from __future__ import annotations

import os
import random
from collections import Counter

import numpy as np
import pandas as pd
from pyspark.sql import Window
from pyspark.sql import functions as F

from scripts.fuzz import expect
from sparklucene.build import build_index
from sparklucene.query import And, Or, Term
from sparklucene.routing import (build_hashed_index, build_routed_index,
                                 hashed_search, routed_facet_field,
                                 routed_grouped_topk, routed_search)
from sparklucene.search import Index, search

SEEDS = (20, 60_000)
SPARK = True

VOC = ["spark", "merge", "join", "scan", "filter", "window", "table",
       "hash", "batch", "vector", "stream", "agg", "query", "fast",
       "slow", "dup", "key", "row", "value"]


def _same(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    """Same doc ids in the same order, bit-equal scores."""
    return (got["doc_id"].tolist() == want["doc_id"].tolist()
            and (got["score"].to_numpy() == want["score"].to_numpy()).all())


def check(ctx, seed: int) -> Counter:
    spark = ctx.spark
    n_: Counter = Counter()
    rng = random.Random(seed)
    n = rng.choice([40, 80, 160])
    n_routes = rng.choice([2, 3, 5])
    skew = rng.random() < 0.4
    routes = [f"r{i}" for i in range(n_routes)]
    route_of = [routes[0] if skew and rng.random() < 0.7
                else rng.choice(routes) for _ in range(n)]
    texts = [" ".join(rng.choice(VOC)
                      for _ in range(rng.randint(1, 30)))
             for _ in range(n)]
    pdf = pd.DataFrame({
        "repo": route_of,
        "path": [f"p{i}" for i in range(n)], "commit": "c",
        "lang": [rng.choice(["en", "fr", "de"]) for _ in range(n)],
        "content": texts, "doc_id": np.arange(n, dtype=np.int64)})
    corpus = spark.createDataFrame(pdf)
    base = os.path.join(ctx.tmp, "routed")
    whole = os.path.join(ctx.tmp, "whole")
    drange = rng.choice([8, 16, 64])
    build_routed_index(spark, corpus, base, route_col="repo",
                       drange_size=drange)
    build_index(spark, corpus, whole, drange_size=drange)
    widx = Index(spark, whole)
    docs = corpus.select("doc_id", F.col("lang").alias("grp"))

    for _ in range(3):
        terms = rng.sample(VOC, rng.randint(1, 3))
        q = (Term(terms[0]) if len(terms) == 1 else
             (Or if rng.random() < 0.7 else And)(
                 tuple(Term(t) for t in terms)))
        k = rng.choice([5, 10])

        # 1. global-stats fan-out == unsharded, bit-equal scores
        got = (routed_search(spark, base, q, route=None, k=k,
                             mode="f64", stats="global")
               .select("doc_id", "score").toPandas())
        want = (search(widx, q, k=k, mode="f64")
                .select("doc_id", "score").toPandas())
        expect(n_, "search", _same(got, want),
               lambda: f"q={q!r} k={k}\n{got}\n{want}")

        # 2. refined facet: returned buckets exact; ship-all => set
        limit = rng.choice([2, 3])
        fac = routed_facet_field(spark, base, q, docs, "grp",
                                 limit=limit, mode="f64").toPandas()
        matched = (search(widx, q, k=None, mode="f64")
                   .join(docs, "doc_id").groupBy("grp").count()
                   .toPandas().set_index("grp")["count"])
        for _, row in fac.iterrows():
            expect(n_, "facet-count",
                   int(row["cnt"]) == int(matched.get(row["value"], 0)),
                   lambda: f"q={q!r} bucket={row['value']} "
                   f"got={row['cnt']} want={matched.get(row['value'], 0)}")
        ship = limit + int(limit * 1.5 + 10)
        if len(matched) <= ship:  # every shard ships all => exact set
            want_set = matched.sort_values(ascending=False) \
                .head(limit)
            wvals = sorted(want_set.index.tolist())
            # resolve count ties the facet's way before comparing
            wtop = matched.reset_index()
            wtop.columns = ["grp", "c"]
            wtop = wtop.sort_values(["c", "grp"],
                                    ascending=[False, True]).head(limit)
            expect(n_, "facet-set", sorted(fac["value"].tolist())
                   == sorted(wtop["grp"].tolist()),
                   lambda: f"q={q!r} got={sorted(fac['value'])} "
                   f"want={sorted(wtop['grp'])} (wvals={wvals})")

        # 3. two-phase grouping == whole-index derivation
        gl = rng.choice([1, 2])
        ng = rng.choice([2, 3])
        got_g = routed_grouped_topk(
            spark, base, q, docs, "grp", n_groups=ng, group_limit=gl,
            mode="f64", stats="global").collect()
        scored = (search(widx, q, k=None, mode="f64")
                  .join(docs, "doc_id"))
        rk = F.row_number().over(
            Window.partitionBy("grp")
            .orderBy(F.desc("score"), F.asc("doc_id")))
        merged = scored.withColumn("rk", rk.cast("long")) \
            .filter(F.col("rk") <= gl)
        ghead = (merged.groupBy("grp").agg(F.max("score").alias("head"))
                 .orderBy(F.desc("head"), F.asc("grp")).limit(ng))
        want_g = (merged.join(ghead, "grp")
                  .select("grp", "head", "rk", "doc_id", "score")
                  .orderBy(F.desc("head"), F.asc("grp"), F.asc("rk"))
                  .collect())
        expect(n_, "grouping",
               [tuple(r) for r in got_g] == [tuple(r) for r in want_g],
               lambda: f"q={q!r}\n{got_g}\n{want_g}")

    # 4. compositeId hash-range router on the same corpus
    hbase = os.path.join(ctx.tmp, "hashed")
    n_shards = rng.choice([2, 3, 5])
    build_hashed_index(spark, corpus, hbase, n_shards=n_shards,
                       shard_key_col="repo", drange_size=drange)
    for _ in range(2):
        terms = rng.sample(VOC, rng.randint(1, 2))
        q = (Term(terms[0]) if len(terms) == 1 else
             Or(tuple(Term(t) for t in terms)))
        got = (hashed_search(spark, hbase, q, k=10, mode="f64",
                             stats="global")
               .select("doc_id", "score").toPandas())
        want = (search(widx, q, k=10, mode="f64")
                .select("doc_id", "score").toPandas())
        expect(n_, "hashed-search", _same(got, want),
               lambda: f"q={q!r}\n{got}\n{want}")
        key = rng.choice(routes)
        pruned = set(hashed_search(spark, hbase, q, route_key=key,
                                   k=10_000, mode="f64")
                     .select("doc_id").toPandas()["doc_id"])
        want_ids = set(search(widx, q, k=None, mode="f64")
                       .join(corpus.filter(F.col("repo") == key)
                             .select("doc_id"), "doc_id")
                       .toPandas()["doc_id"])
        expect(n_, "hashed-routekey", want_ids <= pruned,
               lambda: f"q={q!r} key={key} missing={want_ids - pruned}")
    return n_
