"""The fuzz runner (``python -m scripts.fuzz``): the no-Spark families run
green through its entry point, and a failing family makes it exit 1
naming the family, seed and check."""

from __future__ import annotations

import re
import types
from collections import Counter

import pytest

from scripts.fuzz import expect
from scripts.fuzz.__main__ import main, run


@pytest.mark.parametrize("family",
                         ["queries", "parser", "similarity", "datemath"])
def test_no_spark_family_runs_green(family, capsys):
    assert main([family, "2"]) == 0
    out = capsys.readouterr().out
    summary = re.search(rf"FUZZ GREEN {family}: .* checks: (.*) \[", out)
    counts = dict(kv.split("=") for kv in summary.group(1).split())
    assert counts and all(int(v) > 0 for v in counts.values()), out


def test_failing_family_exits_1_naming_family_seed_check(capsys):
    def check(ctx, seed):
        # a Spark progress bar sharing stdout leaves the line unended
        print("\r[Stage 7:>          (0 + 1) / 1]", end="")
        n: Counter = Counter()
        expect(n, "parity", seed != 11, lambda: f"seed {seed} diverged")
        return n

    fake = types.SimpleNamespace(SEEDS=(3, 10), SPARK=False, check=check)
    assert run({"fake": fake}) == 1
    out = capsys.readouterr().out
    assert "FUZZ FAILURE family=fake seed=11 check=parity: seed 11 " \
        "diverged" in out
    assert re.search(r"^FUZZ FAILURE family=", out, re.M)
    assert "FUZZ GREEN fake" not in out
