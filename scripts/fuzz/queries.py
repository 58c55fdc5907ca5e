"""Query trees at campaign scale (round-5 endgame hardening).

Reuses the generators from tests/test_fuzz_queries.py and
tests/test_spans.py with THOUSANDS of fresh seeds (the pytest suite pins
8/4/6 seeds for CI cost) and runs the same invariants:

  1. boolean trees : pruned == exhaustive == brute-force oracle
                     (lucene8 + f64 + classic + boolean, k in {3, 10})
  2. include-filter: filtered scorer == brute-force (full rank ->
                     python include filter -> re-top-k), +/- deletes
  3. span trees    : engine span path == oracle (lucene8 + f64)
  4. cursor paging : topk(k, after=rank-k key) == ranks k+1..2k of
                     the full ranking (searchAfter keyset invariant)

No Spark: the scorer runs on oracle-encoded cells (numpy), so a seed
costs milliseconds. Corpus defaults to sf0.001; set FUZZ_SF to try the
sf0.01 vocabulary/df distribution (different rounding boundaries).
"""
from __future__ import annotations

import functools
import random
from collections import Counter

import duckdb
import numpy as np
import pandas as pd

from scripts.fuzz import expect
from sparklucene.oracle import build_oracle_index, search_oracle
from sparklucene.query import MatchNoDocs, Span, prune_missing, rewrite
from tests.test_fuzz_queries import _rand_query
from tests.test_scorer import _scorer_from_oracle
from tests.test_spans import _rand_node

SEEDS = (500, 100_000)
SPARK = False


@functools.cache
def _oracle(sf: str):
    pdf = duckdb.sql(
        f"select * from read_parquet('{sf}/documents.parquet') order by doc_id"
    ).df()
    oidx = build_oracle_index(pd.DataFrame({
        "repo": pdf["source"],
        "path": "doc/" + pdf["doc_id"].astype(str) + ".txt",
        "commit": pdf["doc_id"].astype(str),
        "lang": pdf["lang"],
        "content": pdf["text"],
        "doc_id": pdf["doc_id"].astype("int64"),
    }))
    return (oidx, set(oidx.tf["term"].unique()),
            sorted(int(d) for d in oidx.doc_ids))


def check(ctx, seed: int) -> Counter:
    oidx, present, all_docs = _oracle(ctx.sf)
    n: Counter = Counter()

    # --- 1. boolean trees, pruned == exhaustive == oracle -------------
    rng = random.Random(seed)
    modes = ("lucene8", "f64", "classic", "boolean")
    scorers = {(m, p): _scorer_from_oracle(oidx, m, prune=p)
               for m in modes for p in (True, False)}
    for _ in range(10):
        try:
            q = rewrite(_rand_query(rng))
        except ValueError:
            continue
        q = prune_missing(q, present)
        if isinstance(q, MatchNoDocs):
            continue
        for mode in modes:
            for k in (3, 10):
                dp, vp = scorers[(mode, True)].topk(q, k)
                de, ve = scorers[(mode, False)].topk(q, k)
                expect(n, "bool/prune",
                       dp.tolist() == de.tolist() and (vp == ve).all(),
                       lambda: f"{mode} q={q!r}")
                want = search_oracle(oidx, q, k, mode=mode)
                expect(n, "bool/oracle",
                       dp.tolist() == want["doc_id"].tolist()
                       and (vp == want["score"].to_numpy()).all(),
                       lambda: f"{mode} k={k} q={q!r}")
        # cursor paging: page 2 via after == ranks k+1..2k (f64)
        k = 5
        full_d, full_v = scorers[("f64", False)].topk(q, 2 * k)
        if full_d.size > k:
            after = (float(full_v[k - 1]), int(full_d[k - 1]))
            pd_, pv = scorers[("f64", True)].topk(q, k, after=after)
            expect(n, "cursor", pd_.tolist() == full_d[k:2 * k].tolist()
                   and (pv == full_v[k:2 * k]).all(),
                   lambda: f"after={after} q={q!r}")

    # --- 2. include-filter (frange doc-set) + deletes -----------------
    rng_f = random.Random(seed ^ 0x5F5F)
    for _ in range(3):
        try:
            q = prune_missing(rewrite(_rand_query(rng_f)), present)
        except ValueError:
            continue
        if isinstance(q, MatchNoDocs):
            continue
        size = rng_f.choice([1, len(all_docs) // 4, len(all_docs) - 1])
        allowed = np.array(sorted(rng_f.sample(all_docs, size)),
                           dtype=np.int64)
        deleted = (np.array(sorted(rng_f.sample(all_docs, 3)), np.int64)
                   if rng_f.random() < 0.5 else None)
        k = rng_f.choice([3, 10])
        sp = _scorer_from_oracle(oidx, "f64", prune=True,
                                 deleted=deleted, allowed=allowed)
        dp, vp = sp.topk(q, k)
        full = _scorer_from_oracle(oidx, "f64", prune=False,
                                   deleted=deleted)
        df_, vf = full.topk(q, 1 << 20)
        ok = np.isin(df_, allowed)
        df_, vf = df_[ok][:k], vf[ok][:k]
        expect(n, "filter", dp.tolist() == df_.tolist() and (vp == vf).all(),
               lambda: f"k={k} |allowed|={size} q={q!r}")

    # --- 3. span trees ------------------------------------------------
    rng_s = random.Random(seed ^ 0xA5A5)
    for _ in range(6):
        q = prune_missing(rewrite(Span(_rand_node(rng_s))), present)
        if isinstance(q, MatchNoDocs):
            continue
        for mode in ("lucene8", "f64"):
            sp = scorers[(mode, True)]
            for k in (3, 10):
                dp, vp = sp.topk(q, k)
                want = search_oracle(oidx, q, k, mode=mode)
                expect(n, "span", dp.tolist() == want["doc_id"].tolist()
                       and (vp == want["score"].to_numpy()).all(),
                       lambda: f"{mode} k={k} q={q!r}")
    return n
