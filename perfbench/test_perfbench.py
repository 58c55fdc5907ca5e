"""Tests of the benchmark's own parts. Run from the repository root:

    python3 -m pytest perfbench/test_perfbench.py -q

The generator and tracer tests need no Spark; the oracle test builds a
~5k-doc index from the serve corpus model on a small local
session and compares the engine with ``sparklucene.oracle``.
"""

from __future__ import annotations

import os
import sys
import time

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import gen  # noqa: E402
from perfbench.tracing import Tracer, tail  # noqa: E402
from perfbench.workloads import SERVE  # noqa: E402
from sparklucene.query import (ConstantScore, MultiTermQuery, Or,  # noqa: E402
                               Term)

SMALL = gen.ZipfSpec(n_docs=5000, vocab_size=8000,
                     exponent=SERVE.exponent, mean_len=SERVE.mean_len)


def _inputs(seed: int) -> dict:
    base = gen.zipf_corpus(seed, SMALL, 1)
    dense = gen.dense_corpus(seed, 2000)
    batch = gen.micro_batch(seed, SMALL, base.vocab, 3, 5000, 1024)
    return {
        "base": base.table.to_pydict(),
        "dense": dense.table.to_pydict(),
        "batch": batch.table.to_pydict(),
        "selective": [(n, repr(q)) for n, q in
                      gen.selective_stream(seed, base, 50)],
        "dense_stream": [(n, repr(q)) for n, q in gen.dense_stream(seed, 30)],
        "deletes": gen.delete_ids(seed, 2, 5000, 9096, 4),
    }


def test_same_seed_same_inputs_other_seed_other_inputs():
    a, b, c = _inputs(7), _inputs(7), _inputs(8)
    assert a == b
    for key in a:
        assert a[key] != c[key], key


def test_corpus_shapes():
    base = gen.zipf_corpus(3, SMALL, 1)
    facts = gen.corpus_facts(base, gen.selective_stream(3, base, 50))
    assert facts["docs"] == 5000 and facts["vocab"] > 1000
    # selective stream: most query terms are rare next to the top terms
    assert facts["query_term_df_median"] < facts["query_term_df_top"] / 10
    dense = gen.dense_corpus(3, 4000)
    df = dense.doc_freqs()
    common = df[:-1][[w not in ("a", "the") for w in gen.DENSE_WORDS]]
    assert (common > 0.7 * 4000).all()
    assert 0.03 * 4000 < df[-1] < 0.07 * 4000  # "dup"


def test_micro_batch_ids_are_one_range():
    base = gen.zipf_corpus(3, SMALL, 1)
    b = gen.micro_batch(3, SMALL, base.vocab, 0, 8192, 4096)
    ids = np.asarray(b.table["doc_id"])
    assert ids[0] == 8192 and ids[-1] == 8192 + 4095
    assert len(set(ids // 4096)) == 1


def test_self_time_accounts_for_wall():
    tr = Tracer(True)
    with tr.span("query", "r1"):
        with tr.span("search.plan"):
            time.sleep(0.02)
        with tr.span("search.exec"):
            time.sleep(0.03)
    st = tr.self_times()
    root = tr.spans[0]
    assert abs(sum(st) - (root.end - root.start)) < 1e-9
    assert tr.per_request("query", "search.exec")[0] >= 0.03
    assert st[0] < 0.01


def test_tail_has_ten_samples_beyond():
    v, pct, n = tail(list(range(100)))
    assert (pct, n) == (90.0, 100) and v == 89
    assert tail(list(range(12)))[1] == 50.0


@pytest.fixture(scope="module")
def spark():
    from sparklucene.session import get_spark
    s = get_spark(app_name="perfbench-tests", cores=2)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def _expand(q, vocab: set[str]):
    """Prefix -> ConstantScore(Or(vocabulary terms)), from the generator's
    own vocabulary (independent of the engine's dictionary)."""
    if isinstance(q, MultiTermQuery):
        return ConstantScore(Or(tuple(Term(t) for t in sorted(vocab)
                                      if t.startswith(q.prefix))), q.boost)
    if hasattr(q, "clauses"):
        return type(q)(tuple(_expand(c, vocab) for c in q.clauses),
                       *([q.min_should_match] if isinstance(q, Or) else []))
    return q


def test_engine_matches_oracle_on_selective_stream(spark, tmp_path):
    from sparklucene.build import build_index
    from sparklucene.oracle import build_oracle_index, search_oracle
    from sparklucene.search import Index, search

    base = gen.zipf_corpus(11, SMALL, 1)
    used = {str(base.vocab[i]) for i in np.unique(base.tokens)}
    pdf = base.table.to_pandas()
    work = str(tmp_path / "index")
    build_index(spark, spark.createDataFrame(pdf), work, drange_size=1024,
                resume=False)
    idx = Index(spark, work)
    oidx = build_oracle_index(pdf)
    checked = 0
    for name, q in gen.selective_stream(11, base, 20):
        got = search(idx, q, k=10).toPandas()
        want = search_oracle(oidx, _expand(q, used), k=10)
        assert got["doc_id"].tolist() == want["doc_id"].tolist(), name
        assert (got["score"].to_numpy()
                == want["score"].to_numpy().astype(np.float64)).all(), name
        checked += len(want) > 0
    assert checked >= 10  # the comparison is not vacuous
