"""Fuzz runner: ``python -m scripts.fuzz <family|all> [n_seeds] [seed0]``.

Runs one family (or, with ``all``, every family at its default seeds)
seed by seed in one process, prints progress lines and a per-family
summary of check counts, and exits 1 on the first failure, naming the
family, seed, check and detail. Spark families share one session;
``FUZZ_SF`` picks the corpus directory the corpus-backed families read
(default sf0.001). Run from the repository root.
"""
from __future__ import annotations

import argparse
import importlib
import os
import shutil
import sys
import time
import traceback
from collections import Counter
from types import ModuleType

from scripts.fuzz import FAMILIES, Mismatch

REPO = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))


class Failure(Exception):
    def __init__(self, family: str, seed: int, check: str, detail: str):
        super().__init__(f"FUZZ FAILURE family={family} seed={seed} "
                         f"check={check}: {detail}")


class Ctx:
    """What a family's ``check`` gets from the runner."""

    def __init__(self, sf: str):
        self.sf = sf
        self.tmp = ""
        self._spark = None

    @property
    def spark(self):
        if self._spark is None:
            from sparklucene.session import get_spark
            self._spark = get_spark(app_name="fuzz", cores=8,
                                    shuffle_partitions=8)
            self._spark.sparkContext.setLogLevel("ERROR")
        return self._spark


def _fmt(n: Counter) -> str:
    return " ".join(f"{k}={v}" for k, v in sorted(n.items()))


def run_family(name: str, fam: ModuleType, ctx: Ctx, n_seeds: int,
               seed0: int) -> Counter:
    """Run ``fam.check`` over seeds ``seed0 .. seed0 + n_seeds - 1``;
    returns the summed check counts or raises :class:`Failure`."""
    t0 = time.perf_counter()
    total: Counter = Counter()
    print(f"== {name}: {n_seeds} seeds from {seed0}", flush=True)
    if fam.SPARK:
        ctx.spark  # start the session outside the first seed's timing
    every = max(1, n_seeds // 10)
    for i, seed in enumerate(range(seed0, seed0 + n_seeds), 1):
        ctx.tmp = os.path.join(REPO, ".cache", "fuzz", name, str(seed))
        shutil.rmtree(ctx.tmp, ignore_errors=True)
        os.makedirs(ctx.tmp)
        try:
            total += fam.check(ctx, seed)
        except Mismatch as exc:
            raise Failure(name, seed, exc.check, exc.detail) from exc
        except Exception as exc:
            traceback.print_exc()
            raise Failure(name, seed, f"error({type(exc).__name__})",
                          str(exc)) from exc
        finally:
            shutil.rmtree(ctx.tmp, ignore_errors=True)
        if i % every == 0 or i == n_seeds:
            print(f"  {name} seed {seed} ({i}/{n_seeds}): {_fmt(total)}",
                  flush=True)
    if fam.SPARK:
        ctx.spark.catalog.clearCache()
    print(f"FUZZ GREEN {name}: seeds {seed0}..{seed0 + n_seeds - 1} "
          f"checks: {_fmt(total)} [{time.perf_counter() - t0:.1f} s]",
          flush=True)
    return total


def run(families: dict[str, ModuleType], n_seeds: int | None = None,
        seed0: int | None = None) -> int:
    """Run ``families`` in order; 0 when all are green, else 1 after
    printing the first failure."""
    ctx = Ctx(os.environ.get("FUZZ_SF", "/root/testdata/sf0.001"))
    t0 = time.perf_counter()
    try:
        for name, fam in families.items():
            dn, ds = fam.SEEDS
            run_family(name, fam, ctx, dn if n_seeds is None else n_seeds,
                       ds if seed0 is None else seed0)
    except Failure as exc:
        # Spark's progress bar ends in "\r", not a newline: start a line
        # of our own so the failure reads at the start of one
        print(f"\n{exc}", flush=True)
        return 1
    finally:
        if ctx._spark is not None:
            ctx._spark.stop()
    if len(families) > 1:
        print(f"FUZZ ALL GREEN: {len(families)} families "
              f"[{time.perf_counter() - t0:.1f} s]", flush=True)
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="python -m scripts.fuzz",
                                 description=__doc__)
    ap.add_argument("family", choices=FAMILIES + ("all",))
    ap.add_argument("n_seeds", nargs="?", type=int)
    ap.add_argument("seed0", nargs="?", type=int)
    a = ap.parse_args(argv)
    if a.family == "all" and a.n_seeds is not None:
        ap.error("'all' runs every family at its default seeds")
    names = FAMILIES if a.family == "all" else (a.family,)
    return run({n: importlib.import_module(f"scripts.fuzz.{n}")
                for n in names}, a.n_seeds, a.seed0)


if __name__ == "__main__":
    sys.exit(main())
