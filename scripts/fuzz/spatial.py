"""Randomized spatial fuzz vs independent Python mirrors (round-5).

Surfaces and mirrors:

  - point_in_polygon vs a from-scratch even-odd ray caster (the classic
    `(yi > y) != (yj > y)` + x-intersection form — a DIFFERENT
    formulation than the engine's division-free band/side test), on
    random convex, star-shaped, and self-intersecting polygons with
    vertices snapped to a grid so points never sit ON an edge (edge-on
    membership is representation-dependent in every engine pair)
  - geohash_col vs a from-spec Python geohash encoder (bit interleave
    written independently from the wikipedia algorithm)
  - heatmap_facet vs a numpy histogram2d-style recount
  - bbox_filter vs pandas boolean masks
"""
from __future__ import annotations

import math
import random
from collections import Counter

import numpy as np
import pandas as pd

from scripts.fuzz import expect
from sparklucene.spatial import (bbox_filter, geohash_col, heatmap_facet,
                                 point_in_polygon)

SEEDS = (20, 110_000)
SPARK = True

BASE32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def ray_cast(y: float, x: float, poly: list) -> bool:
    """Classic even-odd test (independent formulation)."""
    inside = False
    n = len(poly)
    for i in range(n):
        yi, xi = poly[i]
        yj, xj = poly[(i + 1) % n]
        if (yi > y) != (yj > y):
            x_at = xi + (y - yi) * (xj - xi) / (yj - yi)
            if x < x_at:
                inside = not inside
    return inside


def py_geohash(lat: float, lon: float, precision: int) -> str:
    """From-spec interleaved bisection encoder."""
    lat_lo, lat_hi = -90.0, 90.0
    lon_lo, lon_hi = -180.0, 180.0
    bits, out, even = 0, [], True
    ch = 0
    while len(out) < precision:
        if even:
            mid = (lon_lo + lon_hi) / 2
            if lon >= mid:
                ch = ch * 2 + 1
                lon_lo = mid
            else:
                ch = ch * 2
                lon_hi = mid
        else:
            mid = (lat_lo + lat_hi) / 2
            if lat >= mid:
                ch = ch * 2 + 1
                lat_lo = mid
            else:
                ch = ch * 2
                lat_hi = mid
        even = not even
        bits += 1
        if bits == 5:
            out.append(BASE32[ch])
            bits, ch = 0, 0
    return "".join(out)


def rand_polygon(rng: random.Random) -> list:
    kind = rng.choice(["convex", "star", "zigzag"])
    cy, cx = rng.uniform(-50, 50), rng.uniform(-50, 50)
    n = rng.randint(3, 9)
    pts = []
    for i in range(n):
        ang = 2 * math.pi * i / n
        r = rng.uniform(5, 20) if kind != "convex" else 12.0
        if kind == "star" and i % 2:
            r *= 0.4
        # snap to a coarse grid so sampled points (finer grid, offset)
        # never land exactly on an edge
        pts.append((round(cy + r * math.sin(ang), 1),
                    round(cx + r * math.cos(ang), 1)))
    if kind == "zigzag":
        rng.shuffle(pts)  # likely self-intersecting — even-odd still
    return pts           # well-defined


def check(ctx, seed: int) -> Counter:
    n_: Counter = Counter()
    rng = random.Random(seed)
    npr = np.random.default_rng(seed)
    n = 400
    # offset grid: .x05 endings never equal the .x0 polygon grid
    lat = np.round(npr.uniform(-80, 80, n), 2) + 0.005
    lon = np.round(npr.uniform(-170, 170, n), 2) + 0.005
    pdf = pd.DataFrame({"doc_id": np.arange(n, dtype=np.int64),
                        "lat": lat, "lon": lon})
    df = ctx.spark.createDataFrame(pdf).repartition(4)

    for _ in range(3):
        poly = rand_polygon(rng)
        got = sorted(r["doc_id"] for r in
                     point_in_polygon(df, "lat", "lon", poly)
                     .select("doc_id").collect())
        want = sorted(int(i) for i, (y, x) in
                      enumerate(zip(lat, lon)) if ray_cast(y, x, poly))
        expect(n_, "pip", got == want,
               lambda: f"poly={poly} diff={set(got) ^ set(want)}")

    prec = rng.choice([3, 5, 7])
    got_gh = [r["gh"] for r in
              df.orderBy("doc_id")
              .select(geohash_col("lat", "lon", prec).alias("gh"))
              .collect()]
    want_gh = [py_geohash(y, x, prec) for y, x in zip(lat, lon)]
    for i in range(n):
        expect(n_, "geohash", got_gh[i] == want_gh[i],
               lambda: f"prec={prec} doc={i} ({lat[i]},{lon[i]}) "
               f"got={got_gh[i]} want={want_gh[i]}")

    la0, la1 = sorted(npr.uniform(-80, 80, 2))
    lo0, lo1 = sorted(npr.uniform(-170, 170, 2))
    got_b = sorted(r["doc_id"] for r in
                   bbox_filter(df, "lat", "lon", la0, la1, lo0, lo1)
                   .select("doc_id").collect())
    m = (lat >= la0) & (lat <= la1) & (lon >= lo0) & (lon <= lo1)
    expect(n_, "bbox", got_b == sorted(np.arange(n)[m].tolist()))

    rows, cols = rng.choice([(4, 4), (10, 7)])
    hm = {(r["row"], r["col"]): r["n"] for r in
          heatmap_facet(df, "lat", "lon", la0, la1, lo0, lo1,
                        rows, cols).collect()}
    cell_la = (la1 - la0) / rows
    cell_lo = (lo1 - lo0) / cols
    want_hm: dict = {}
    for y, x in zip(lat[m], lon[m]):
        rr = min(int((y - la0) // cell_la), rows - 1)
        cc = min(int((x - lo0) // cell_lo), cols - 1)
        want_hm[(rr, cc)] = want_hm.get((rr, cc), 0) + 1
    expect(n_, "heatmap", hm == want_hm,
           lambda: f"diff={set(hm.items()) ^ set(want_hm.items())}")
    return n_
