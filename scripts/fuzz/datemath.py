"""Randomized fuzz for the Solr date-math parser vs an INDEPENDENT
re-derivation (round-5). Pure driver-side logic — no Spark session.

Generates random expressions (NOW / ISO anchors with millis, chains of
round-down and calendar-add ops, unit aliases, adversarial rejects) and
evaluates them against a from-scratch mirror: its month arithmetic
computes the target month-length via day-before-next-month rather than
calendar.monthrange, and rounding rebuilds the datetime from formatted
prefixes rather than .replace — same pinned Java Calendar.add
semantics (single-jump day clamp), different code paths.
"""
from __future__ import annotations

import random
import re
from collections import Counter
from datetime import datetime, timedelta

from scripts.fuzz import Mismatch, expect
from sparklucene.datemath import parse_date_math

SEEDS = (2000, 91_000)
SPARK = False

UNIT_ALIASES = {
    "year": ["YEAR", "YEARS"],
    "month": ["MONTH", "MONTHS"],
    "day": ["DAY", "DAYS", "DATE"],
    "hour": ["HOUR", "HOURS"],
    "minute": ["MINUTE", "MINUTES"],
    "second": ["SECOND", "SECONDS"],
    "milli": ["MILLI", "MILLIS", "MILLISECOND", "MILLISECONDS"],
}
CANON = [u for u in UNIT_ALIASES]


def month_len(y: int, m: int) -> int:
    # day before the first of the following month (monthrange-free)
    ny, nm = (y + 1, 1) if m == 12 else (y, m + 1)
    return (datetime(ny, nm, 1) - timedelta(days=1)).day


def mirror_round(dt: datetime, unit: str) -> datetime:
    s = dt.strftime("%Y-%m-%dT%H:%M:%S") + f".{dt.microsecond:06d}"
    keep = {"year": 4, "month": 7, "day": 10, "hour": 13,
            "minute": 16, "second": 19, "milli": 23}[unit]
    prefix = s[:keep]
    pad = "0000-01-01T00:00:00.000000"
    return datetime.strptime(prefix + pad[keep:], "%Y-%m-%dT%H:%M:%S.%f")


def mirror_add(dt: datetime, n: int, unit: str) -> datetime:
    if unit in ("year", "month"):
        months = n * (12 if unit == "year" else 1)
        total = (dt.year * 12 + dt.month - 1) + months
        y, m0 = divmod(total, 12)
        m = m0 + 1
        d = dt.day if dt.day <= month_len(y, m) else month_len(y, m)
        return datetime(y, m, d, dt.hour, dt.minute, dt.second,
                        dt.microsecond)
    step = {"day": timedelta(days=1), "hour": timedelta(hours=1),
            "minute": timedelta(minutes=1),
            "second": timedelta(seconds=1),
            "milli": timedelta(microseconds=1000)}[unit]
    return dt + n * step


def gen_anchor(rng: random.Random) -> tuple[str, datetime]:
    now = datetime(rng.randint(1999, 2032), rng.randint(1, 12),
                   rng.randint(1, 28), rng.randint(0, 23),
                   rng.randint(0, 59), rng.randint(0, 59),
                   rng.randint(0, 999) * 1000)
    # month-end anchors exercise the clamp
    if rng.random() < 0.35:
        now = now.replace(day=month_len(now.year, now.month))
    if rng.random() < 0.5:
        return "NOW", now
    if rng.random() < 0.5:
        return now.strftime("%Y-%m-%dT%H:%M:%S") + "Z", \
            now.replace(microsecond=0)
    ms = now.microsecond // 1000
    return (now.strftime("%Y-%m-%dT%H:%M:%S") + f".{ms:03d}Z",
            now.replace(microsecond=ms * 1000))


def check(ctx, seed: int) -> Counter:
    n: Counter = Counter()
    rng = random.Random(seed)
    expr, dt = gen_anchor(rng)
    for _ in range(rng.randint(0, 6)):
        unit = rng.choice(CANON)
        alias = rng.choice(UNIT_ALIASES[unit])
        if rng.random() < 0.4:
            expr += f"/{alias}"
            dt = mirror_round(dt, unit)
        else:
            sign = rng.choice("+-")
            k = rng.choice([0, 1, 2, 7, 13, 25, 100])
            expr += f"{sign}{k}{alias}"
            dt = mirror_add(dt, k if sign == "+" else -k, unit)
    try:
        parse_date_math(expr, now=dt if "NOW" in expr else None)
    except ValueError:
        pass
    # recompute with the true anchor (dt was mutated above)
    _expr2, anchor = gen_anchor(random.Random(seed))
    exp = anchor
    i = len("NOW") if expr.startswith("NOW") else expr.index("Z") + 1
    for m in re.finditer(r"/([A-Z]+)|([+-])(\d+)([A-Z]+)", expr[i:]):
        if m.group(1):
            cu = next(k for k, v in UNIT_ALIASES.items() if m.group(1) in v)
            exp = mirror_round(exp, cu)
        else:
            cu = next(k for k, v in UNIT_ALIASES.items() if m.group(4) in v)
            k = int(m.group(3))
            exp = mirror_add(exp, k if m.group(2) == "+" else -k, cu)
    got = parse_date_math(expr, now=anchor)
    expect(n, "mirror", got == exp, lambda: f"{expr!r}: {got} != {exp}")

    # adversarial rejects must raise ValueError
    bad = rng.choice([
        expr + "X", expr + "/", expr + "+", "now/DAY", "NOW/FOO",
        "NOW+3FOO", "2024-1-1T00:00:00Z", expr + " ", "+1DAY",
        expr.replace("NOW", "TOMORROW", 1) if "NOW" in expr else "T",
    ])
    try:
        parse_date_math(bad, now=anchor)
    except ValueError:
        n["reject"] += 1
    else:  # a mutation may be a no-op; only a real one must be rejected
        if bad != expr:
            raise Mismatch("reject", f"accepted {bad!r}")
    return n
