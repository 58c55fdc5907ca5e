"""Randomized fuzz campaign for the graph / stream operators vs
INDEPENDENT pure-Python mirrors (round-5).

The iterative graph walks (gather_nodes, graph_query fixpoint,
shortest_path) are the operator family where the round-5 dup_clusters
convergence defect hid — this campaign drives them with random directed
graphs (cycles, self-loops, diamonds, disconnected components, dangling
roots) against from-scratch BFS mirrors, plus score_nodes, sessionize,
and timeseries gap-fill against dict/loop re-derivations.
"""
from __future__ import annotations

import math
import random
from collections import Counter, defaultdict
from datetime import datetime, timedelta

import numpy as np
from pyspark.sql import functions as F

from scripts.fuzz import expect
from sparklucene import streams as S

SEEDS = (15, 73_000)
SPARK = True


def gen_graph(rng: random.Random) -> tuple[list[tuple[str, str]], list[str]]:
    n = rng.randint(4, 20)
    nodes = [f"n{i}" for i in range(n)]
    m = rng.randint(n // 2, 3 * n)
    edges = set()
    for _ in range(m):
        a, b = rng.choice(nodes), rng.choice(nodes)
        edges.add((a, b))  # self-loops allowed
    if rng.random() < 0.5 and n >= 4:  # guaranteed diamond
        edges |= {("n0", "n1"), ("n0", "n2"), ("n1", "n3"), ("n2", "n3")}
    if rng.random() < 0.4:             # guaranteed cycle
        edges |= {("n1", "n2"), ("n2", "n1")}
    return sorted(edges), nodes


def bfs_levels(edges, roots) -> dict[str, int]:
    adj = defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
    level = {r: 0 for r in roots}
    frontier = set(roots)
    lvl = 0
    while frontier:
        lvl += 1
        nxt = set()
        for x in frontier:
            nxt |= adj[x]
        nxt -= set(level)
        for x in nxt:
            level[x] = lvl
        frontier = nxt
    return level


def check(ctx, seed: int) -> Counter:
    spark = ctx.spark
    n: Counter = Counter()
    rng = random.Random(seed)
    edges, nodes = gen_graph(rng)
    edf = spark.createDataFrame(edges, "src string, dst string") \
        .repartition(4)

    # ---- gather_nodes (fixed rounds, min level) ----
    roots = sorted(rng.sample(nodes, rng.randint(1, 3)))
    rounds = rng.randint(1, 4)
    rdf = spark.createDataFrame([(r,) for r in roots], "node string")
    full = bfs_levels(edges, roots)
    exp = {n: l for n, l in full.items() if l <= rounds}
    got = {r.node: r.level for r in
           S.gather_nodes(edf, rdf, rounds).collect()}
    expect(n, "gather_nodes", got == exp,
           f"{ {k: (got.get(k), exp.get(k)) for k in set(got) ^ set(exp)} }")

    # ---- graph_query (value-linked fixpoint over a doc table) ----
    # docs: (id, from_val, to_val, is_root); link rule: next docs are
    # those whose to_val is in the frontier's from_val set
    docs_rows = []
    vals = [f"v{i}" for i in range(rng.randint(3, 8))]
    for i in range(rng.randint(5, 25)):
        docs_rows.append((i, rng.choice(vals), rng.choice(vals),
                          1 if rng.random() < 0.25 else 0))
    if not any(r[3] for r in docs_rows):
        docs_rows[0] = (docs_rows[0][0], docs_rows[0][1],
                        docs_rows[0][2], 1)
    ddf = spark.createDataFrame(
        docs_rows, "id long, fv string, tv string, is_root int")
    max_depth = rng.choice([-1, 1, 2])
    lvl_map: dict[int, int] = {}
    frontier_vals: set[str] = set()
    for i, fv, tv, is_r in docs_rows:
        if is_r:
            lvl_map[i] = 0
            frontier_vals.add(fv)
    depth = 0
    while max_depth < 0 or depth < max_depth:
        nxt = [(i, fv) for i, fv, tv, _ in docs_rows
               if tv in frontier_vals and i not in lvl_map]
        if not nxt:
            break
        depth += 1
        frontier_vals = set()
        for i, fv in nxt:
            lvl_map[i] = depth
            frontier_vals.add(fv)
    got = {r.id: r.level for r in
           S.graph_query(ddf, F.col("is_root") == 1, "id", "fv", "tv",
                         max_depth).collect()}
    expect(n, "graph_query", got == lvl_map,
           f"{ {k: (got.get(k), lvl_map.get(k)) for k in set(got) ^ set(lvl_map)} }")

    # ---- shortest_path (all tied shortest paths) ----
    src, dst = rng.choice(nodes), rng.choice(nodes)
    max_depth = rng.randint(1, 6)
    adj = defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
    exp_paths: set[str] = set()
    if src == dst:
        exp_paths, exp_lvl = {src}, 0
    else:
        exp_lvl = None
        paths = [[src]]
        visited = {src}
        for lvl in range(1, max_depth + 1):
            nxt_paths = []
            for p in paths:
                for b in adj[p[-1]]:
                    if b not in visited:
                        nxt_paths.append(p + [b])
            hits = [p for p in nxt_paths if p[-1] == dst]
            if hits:
                exp_paths = {"->".join(p) for p in hits}
                exp_lvl = lvl
                break
            if not nxt_paths:
                break
            visited |= {p[-1] for p in nxt_paths}
            paths = nxt_paths
    out = S.shortest_path(edf, src, dst, max_depth).collect()
    got_paths = {r.path for r in out}
    got_lvls = {r.level for r in out}
    ok = got_paths == exp_paths and (
        not exp_paths or got_lvls == {exp_lvl})
    expect(n, "shortest_path", ok,
           f"{src}->{dst} d={max_depth}: {sorted(got_paths ^ exp_paths)}")

    # ---- score_nodes ----
    terms = sorted({n for e in edges for n in e})
    n_docs = rng.randint(50, 500)
    ts_rows = [(t, rng.randint(1, n_docs)) for t in terms
               if rng.random() < 0.8]  # some nodes miss the dictionary
    tdf = spark.createDataFrame(ts_rows, "term string, df long")
    counts = [(n, rng.randint(1, 9)) for n in rng.sample(nodes,
                                                         len(nodes) // 2 or 1)]
    ndf = spark.createDataFrame(counts, "node string, count long")
    dfs = dict(ts_rows)
    exp_sc = {n: float(np.float64(np.float32(
        c * math.log(n_docs / dfs[n])))) for n, c in counts if n in dfs}
    got_rows = S.score_nodes(ndf, tdf, n_docs).collect()
    got_sc = {r.node: r.node_score for r in got_rows}
    order_ok = all(
        (got_rows[i].node_score, got_rows[i + 1].node_score) ==
        tuple(sorted((got_rows[i].node_score, got_rows[i + 1].node_score),
                     reverse=True))
        or (got_rows[i].node_score == got_rows[i + 1].node_score
            and got_rows[i].node < got_rows[i + 1].node)
        for i in range(len(got_rows) - 1))
    expect(n, "score_nodes", got_sc == exp_sc and order_ok,
           f"{ {k: (got_sc.get(k), exp_sc.get(k)) for k in set(got_sc) ^ set(exp_sc)} or 'order'}")

    # ---- sessionize ----
    users = [f"u{i}" for i in range(rng.randint(1, 4))]
    t0 = datetime(2024, 1, 1, 12, 0, 0)
    ev_rows = []
    for u in users:
        t = t0 + timedelta(minutes=rng.randint(0, 300))
        for _ in range(rng.randint(1, 15)):
            ev_rows.append((u, t, float(rng.randint(0, 50))))
            step = rng.choice([1, 5, 29, 30, 31, 60, 90])
            t = t + timedelta(minutes=step)  # 30 == boundary-inclusive
    rng.shuffle(ev_rows)
    evdf = spark.createDataFrame(
        ev_rows, "user_id string, ts timestamp, value double")
    gap = timedelta(minutes=30)
    per_user: dict[str, list] = defaultdict(list)
    for u, t, v in ev_rows:
        per_user[u].append((t, v))
    exp_sess = set()
    for u, evs in per_user.items():
        evs.sort()
        cur = [evs[0]]
        for t, v in evs[1:]:
            if t <= cur[-1][0] + gap:  # inclusive boundary extends
                cur.append((t, v))
            else:
                exp_sess.add((u, cur[0][0], cur[-1][0] + gap, len(cur),
                              float(np.float64(np.float32(
                                  sum(x[1] for x in cur))))))
                cur = [(t, v)]
        exp_sess.add((u, cur[0][0], cur[-1][0] + gap, len(cur),
                      float(np.float64(np.float32(
                          sum(x[1] for x in cur))))))
    got_sess = {(r.user_id, r.session_start, r.session_end, r.n_events,
                 r.sum_value)
                for r in S.sessionize(evdf, "ts", "30 minutes",
                                      ("user_id",), "value").collect()}
    expect(n, "sessionize", got_sess == exp_sess,
           f"{sorted(got_sess ^ exp_sess)[:3]}")

    # ---- timeseries gap-fill ----
    unit = rng.choice(["DAY", "HOUR", "MONTH"])
    gap_n = rng.choice([1, 2, 3])
    if unit == "MONTH":
        t0 = datetime(2024, rng.randint(1, 6), 1)
        t1 = datetime(2024, rng.randint(7, 12), rng.choice([1, 15]))
        span_secs = None
    else:
        t0 = datetime(2024, 3, rng.randint(1, 10), rng.choice([0, 7]))
        t1 = t0 + timedelta(hours=rng.randint(3, 200))
    rows = []
    for _ in range(rng.randint(0, 60)):
        ts = t0 + timedelta(minutes=rng.randint(-5000, 400000))
        rows.append((ts, rng.randint(0, 9)))
    tdf2 = spark.createDataFrame(rows, "ts timestamp, v long") \
        if rows else spark.createDataFrame([], "ts timestamp, v long")
    metrics = {"n": (F.count(F.lit(1)).cast("long"), 0),
               "sv": (F.sum("v").cast("long"), -1)}
    got_ts = [(r.bucket_start, r.n, r.sv) for r in
              S.timeseries(tdf2, "ts", t0.isoformat(), t1.isoformat(),
                           gap_n, unit, metrics).collect()]
    # mirror spine + bucketing
    starts = []
    if unit == "MONTH":
        base = t0.year * 12 + (t0.month - 1)
        m = 0
        while True:
            y, mo = divmod(base + m, 12)
            b = datetime(y, mo + 1, 1)
            if b >= t1:
                break
            starts.append(b)
            m += gap_n
        def bidx(ts):
            return ((ts.year * 12 + ts.month - 1) - base) // gap_n
    else:
        secs = {"DAY": 86400, "HOUR": 3600}[unit] * gap_n
        b = t0
        while b < t1:
            starts.append(b)
            b += timedelta(seconds=secs)
        def bidx(ts):
            return int((ts - t0).total_seconds()) // secs
    agg = defaultdict(lambda: [0, 0])
    for ts, v in rows:
        if t0 <= ts < t1:
            i = bidx(ts)
            agg[i][0] += 1
            agg[i][1] += v
    exp_ts = [(s, agg[i][0] if i in agg else 0,
               agg[i][1] if i in agg else -1)
              for i, s in enumerate(starts)]
    expect(n, "timeseries", got_ts == exp_ts,
           f"{unit} gap={gap_n}: {[x for x in got_ts if x not in exp_ts][:3]}")

    return n
