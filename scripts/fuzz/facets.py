"""Randomized fuzz campaign for the faceting operators vs INDEPENDENT
pure-Python mirrors (round-5).

  - multiselect_facets: tagged-exclusion counts re-derived with dict
    arithmetic over random attribute tables (NULL values, filters that
    exclude everything, facets excluding zero/one/all tags).
  - range_facet_date: full-bucket spine + before/between/after with
    random start/end/gap and both hardend modes, vs a calendar loop —
    including spans that are NOT gap multiples (the hardend edge).
  - percentile_sketch(method="sampled"): deterministic md5-prefix
    sample membership re-derived with hashlib, exact interpolated
    percentile re-derived with numpy on the mirrored sample.
"""
from __future__ import annotations

import calendar
import hashlib
import math
import random
from collections import Counter, defaultdict
from datetime import datetime, timedelta

import numpy as np
from pyspark.sql import functions as F

from scripts.fuzz import expect
from sparklucene.facets import (multiselect_facets, percentile_sketch,
                                range_facet_date)

SEEDS = (15, 84_000)
SPARK = True

FMT = "%Y-%m-%d %H:%M:%S"


def check(ctx, seed: int) -> Counter:
    spark = ctx.spark
    n: Counter = Counter()
    rng = random.Random(seed)

    # ---- multiselect_facets ----
    langs = ["en", "de", "fr", None]
    srcs = ["s0", "s1", "s2"]
    rows = [(i, rng.choice(langs), rng.choice(srcs), rng.randint(0, 9))
            for i in range(rng.randint(10, 60))]
    base = spark.createDataFrame(
        rows, "doc_id long, lang string, source string, score long")
    thr = rng.randint(0, 9)
    want_lang = rng.choice(["en", "de"])
    want_src = rng.choice(srcs)
    filters = {"L": F.col("lang") == want_lang,
               "S": F.col("source") == want_src,
               "R": F.col("score") >= thr}

    def pred(tag, r):
        _i, lang, src, sc = r
        if tag == "L":
            return lang == want_lang   # NULL lang fails, like Spark
        if tag == "S":
            return src == want_src
        return sc >= thr

    facets = {"lang": frozenset(rng.sample(["L", "S", "R"],
                                           rng.randint(0, 3))),
              "source": frozenset(rng.sample(["L", "S", "R"],
                                             rng.randint(0, 3))),
              "score": frozenset()}
    got = [(r.facet_field, r.value, r.cnt) for r in
           multiselect_facets(base, filters, facets).collect()]
    exp = []
    for field in sorted(facets):
        counts: dict = defaultdict(int)
        col_ix = {"lang": 1, "source": 2, "score": 3}[field]
        for r in rows:
            if all(pred(t, r) for t in sorted(filters)
                   if t not in facets[field]):
                v = r[col_ix]
                counts[None if v is None else str(v)] += 1
        exp.extend((field, v, c) for v, c in
                   sorted(counts.items(),
                          key=lambda kv: (-kv[1], kv[0] is not None,
                                          kv[0] or "")))
    # engine orders cnt desc, value asc (NULL first in Spark asc)
    exp_sorted = sorted(exp, key=lambda t: (t[0], -t[2], t[1] is not None,
                                            t[1] or ""))
    expect(n, "multiselect", got == exp_sorted,
           f"{[x for x in got if x not in exp_sorted][:4]}")

    # ---- range_facet_date ----
    t0 = datetime(2024, rng.randint(1, 6), rng.randint(1, 28),
                  rng.choice([0, 9]), 0, 0)
    span_days = rng.randint(2, 40)
    t1 = t0 + timedelta(days=span_days,
                        hours=rng.choice([0, 5]))  # non-multiple spans
    gap_days = rng.randint(1, 9)
    hardend = rng.random() < 0.5
    ev = [(i, t0 + timedelta(minutes=rng.randint(-20000, 80000)))
          for i in range(rng.randint(0, 80))]
    edf = (spark.createDataFrame(ev, "id long, ts timestamp")
           if ev else spark.createDataFrame([], "id long, ts timestamp"))
    got_rf = [(r.bucket, r.cnt) for r in
              range_facet_date(edf, "ts", t0.strftime(FMT),
                               t1.strftime(FMT), gap_days,
                               hardend).collect()]
    s_epoch = calendar.timegm(t0.timetuple())
    span = int((t1 - t0).total_seconds())
    gap_secs = gap_days * 86400
    n_buckets = -(-span // gap_secs)
    actual_end = (s_epoch + span if hardend
                  else s_epoch + n_buckets * gap_secs)
    cnts = defaultdict(int)
    before = between = after = 0
    for _i, ts in ev:
        e = calendar.timegm(ts.timetuple())
        if e < s_epoch:
            before += 1
        elif e >= actual_end:
            after += 1
        else:
            between += 1
            cnts[(e - s_epoch) // gap_secs] += 1
    exp_rf = [(datetime.utcfromtimestamp(
        s_epoch + i * gap_secs).strftime(FMT), cnts[i])
        for i in range(n_buckets)]
    exp_rf += [("after", after), ("before", before), ("between", between)]
    exp_rf.sort()
    expect(n, "range_facet_date", got_rf == exp_rf,
           f"hardend={hardend}: {[x for x in got_rf if x not in exp_rf][:4]}")

    # ---- percentile_sketch (sampled) ----
    groups = ["a", "b", "c"]
    prows = [(i, rng.choice(groups), float(rng.randint(0, 1000)))
             for i in range(rng.randint(20, 120))]
    pdf = spark.createDataFrame(prows, "doc_id long, grp string, x double")
    frac = rng.choice([0.3, 0.6, 1.0])
    probs = (0.5, 0.9)
    got_p = {r.grp: (r.q50_est, r.q90_est, r.sample_n) for r in
             percentile_sketch(pdf, "x", "grp", probs, "sampled",
                               frac, salt=f"p{seed}").collect()}
    thr_hex = "g" if frac >= 1.0 else format(int(frac * 16 ** 8), "08x")
    samp = defaultdict(list)
    for i, g, x in prows:
        if hashlib.md5(f"p{seed}{i}".encode()).hexdigest()[:8] < thr_hex:
            samp[g].append(x)
    exp_p = {}
    for g, xs in samp.items():
        arr = np.sort(np.array(xs, dtype=np.float64))
        exp_p[g] = (float(np.percentile(arr, 50)),
                    float(np.percentile(arr, 90)), len(xs))
    ok = set(got_p) == set(exp_p) and all(
        math.isclose(got_p[g][0], exp_p[g][0], rel_tol=1e-12)
        and math.isclose(got_p[g][1], exp_p[g][1], rel_tol=1e-12)
        and got_p[g][2] == exp_p[g][2] for g in exp_p)
    expect(n, "percentile_sampled", ok,
           f"{ {g: (got_p.get(g), exp_p.get(g)) for g in set(got_p) | set(exp_p)} }")

    return n
