"""Seeded fuzz campaigns: one runner, one module per family.

Each family module re-derives an engine surface from an independent
mirror (brute-force oracle, pure-Python/numpy re-implementation) on
randomly drawn inputs, and exposes:

* ``SEEDS = (n_seeds, seed0)`` — its default seed count and seed base;
* ``SPARK`` — whether it needs a Spark session;
* ``check(ctx, seed) -> Counter`` — runs every check for one seed,
  returns check name -> checks run, and raises on the first mismatch
  (:class:`Mismatch` via :func:`expect`, or any exception the engine
  throws).

``ctx`` carries what the runner owns: ``ctx.spark`` (one lazily started
session shared by every family), ``ctx.sf`` (the corpus directory,
``FUZZ_SF``) and ``ctx.tmp`` (a fresh scratch dir for this seed,
removed after it). Run with ``python -m scripts.fuzz <family|all>
[n_seeds] [seed0]`` from the repository root; see ``__main__.py``.
"""
from __future__ import annotations

from collections import Counter

#: every family, in the order ``all`` runs them (no-Spark ones first)
FAMILIES = (
    "queries", "parser", "similarity", "datemath",
    "ann", "checkindex", "classify", "dedup", "expressions", "facets",
    "graph_streams", "highlight", "invert", "ltr", "mlt", "monitor",
    "payloads", "routed", "sorted_index", "spatial", "sqlsurface",
    "streaming", "suggest", "textops", "tra", "updates",
)


class Mismatch(AssertionError):
    """An engine result differs from its mirror."""

    def __init__(self, check: str, detail: str):
        super().__init__(f"{check}: {detail}")
        self.check, self.detail = check, detail


def expect(n: Counter, check: str, ok, detail="") -> None:
    """Count one run of ``check`` in ``n``, or raise :class:`Mismatch`
    when ``ok`` is false. ``detail`` may be a zero-argument callable, so
    an expensive diff is only formatted on failure."""
    if not ok:
        raise Mismatch(check, str(detail() if callable(detail) else detail))
    n[check] += 1
