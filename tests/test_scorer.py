"""RangeScorer property tests (no Spark): pruned == exhaustive == oracle.

The WAND-safety suite of SURVEY.md §4.3.6 / FIXTURES.md §6.4: block-max /
MAXSCORE pruning must never change the top-k set or scores.
"""

import numpy as np
import pandas as pd
import pytest

from sparklucene.codec import encode_postings
from sparklucene.norms import int_to_byte4
from sparklucene.oracle import build_oracle_index, search_oracle
from sparklucene.query import (And, ConstantScore, DisMax, Filtered,
                               MatchAllDocs, MultiPhrase, Not, Or, Phrase,
                               Span, SpanFirst, Synonym, Term, Within, parse)
from sparklucene.scorer import GlobalStats, RangeCell, RangeScorer, TermStats
from sparklucene.spans import SpanNearNode, SpanNotNode, SpanOrNode, SpanTerm


def _scorer_from_oracle(oidx, mode="lucene8", prune=True, deleted=None,
                        allowed=None, positions=True):
    cells = {}
    for term, g in oidx.tf.groupby("term"):
        g = g.sort_values("doc_id")
        d = g["doc_id"].to_numpy(dtype=np.int64)
        t = g["tf"].to_numpy(dtype=np.int64)
        nb = oidx.norm_bytes[np.searchsorted(oidx.doc_ids, d)]
        tp = oidx.tp[oidx.tp["term"] == term].sort_values(["doc_id", "pos"])
        pos = tp["pos"].to_numpy(dtype=np.int64)
        c = encode_postings(d, t, nb, pos)
        cells[term] = RangeCell(c.doc_bytes, c.tf_bytes, c.norm_bytes,
                                c.block_last_doc, c.block_max_tf,
                                c.block_min_norm,
                                c.pos_bytes if positions else b"")
    cf_by_term = oidx.tf.groupby("term")["tf"].sum()
    stats = GlobalStats(
        doc_count=oidx.doc_count, sum_dl=oidx.sum_dl,
        term_stats={t: TermStats(df=int(g), cf=int(cf_by_term[t]))
                    for t, g in oidx.tf.groupby("term").size().items()})
    return RangeScorer(cells, stats, mode=mode, prune=prune,
                       deleted=deleted, allowed=allowed)


@pytest.fixture(scope="module")
def oidx(corpus_pdf):
    return build_oracle_index(corpus_pdf)


QUERIES = [
    Term("merge"),
    Or((Term("merge"), Term("join"))),
    Or((Term("merge"), Term("join"), Term("scan"), Term("filter"), Term("window"))),
    Or((Term("merge"), Term("join"), Term("scan")), min_should_match=2),
    And((Term("merge"), Term("join"))),
    And((Term("table"), Term("scan"), Term("filter"))),
    Not(Or((Term("merge"), Term("join"))), Term("scan")),
    Not(Term("merge"), Term("join")),
    Term("zzz_absent"),
    Phrase(((0, "merge"), (1, "join"))),
    Phrase(((0, "table"), (1, "scan"))),
    Phrase(((0, "fast"), (2, "key"))),           # stopword gap
    Or((Phrase(((0, "merge"), (1, "join"))), Term("window"))),
    And((Phrase(((0, "table"), (1, "scan"))), Term("filter"))),
    Not(Term("merge"), Phrase(((0, "merge"), (1, "join")))),
    Phrase(((0, "zzz"), (1, "absent"))),
    Phrase(((0, "merge"), (1, "join")), slop=2),
    Phrase(((0, "table"), (1, "scan")), slop=1),
    Phrase(((0, "fast"), (2, "key")), slop=3),
    Phrase(((0, "spark"), (1, "merge"), (2, "join")), slop=2),
    DisMax((Term("merge"), Term("join"))),
    DisMax((Term("merge"), Term("join"), Term("scan")), tiebreak=0.3),
    Or((Term("merge", boost=2.0), Term("join"))),
    Term("merge", boost=0.5),
    And((Term("table", boost=1.5), Term("scan"))),
    # round-2 algebra: constant score, FILTER occur, MatchAll-in-And,
    # nested Not, MultiPhrase
    ConstantScore(Or((Term("merge"), Term("join"))), boost=2.0),
    And((ConstantScore(Term("scan")), Term("merge"))),
    Or((ConstantScore(Term("scan"), boost=0.5), Term("merge"))),
    Filtered(Or((Term("merge"), Term("join"))), Term("scan")),
    Filtered(Phrase(((0, "table"), (1, "scan"))), Term("filter")),
    Filtered(Term("merge"), ConstantScore(Term("join"))),
    And((MatchAllDocs(), Term("merge"))),
    And((MatchAllDocs(boost=0.5), Term("table"), Term("scan"))),
    Or((Not(Term("merge"), Term("join")), Term("scan"))),
    MultiPhrase(((0, ("fast", "slow")), (1, ("join", "merge")))),
    MultiPhrase(((0, ("table",)), (1, ("hash", "scan")))),
    And((MultiPhrase(((0, ("fast", "slow")), (1, ("join", "merge")))),
         Term("table"))),
    # matchers whose weighting goes through the shared similarity switch
    Synonym(("merge", "join"), boost=2.5),
    Synonym(("merge", "join"), blend_df=40),
    Within(("merge", "join"), 4),
    Within(("merge", "join"), 4, ordered=True),
    SpanFirst("merge", 5),
    Span(SpanNotNode(SpanNearNode((SpanOrNode((SpanTerm("fast"),
                                               SpanTerm("slow"))),
                                   SpanTerm("join")), 2, in_order=False),
                     SpanTerm("scan"))),
]


@pytest.mark.parametrize("mode", ["lucene8", "f64", "classic", "boolean"])
@pytest.mark.parametrize("k", [1, 5, 10, 100])
def test_pruned_equals_exhaustive_equals_oracle(oidx, mode, k):
    for q in QUERIES:
        sp = _scorer_from_oracle(oidx, mode, prune=True)
        se = _scorer_from_oracle(oidx, mode, prune=False)
        dp, vp = sp.topk(q, k)
        de, ve = se.topk(q, k)
        assert dp.tolist() == de.tolist(), f"prune changed ids for {q}"
        assert (vp == ve).all(), f"prune changed scores for {q}"
        assert sp.metrics.docs_total == se.metrics.docs_total, q
        assert sp.metrics.docs_scored <= se.metrics.docs_scored, q
        want = search_oracle(oidx, q, k, mode=mode)
        assert dp.tolist() == want["doc_id"].tolist(), f"ids vs oracle for {q}"
        assert (vp == want["score"].to_numpy()).all(), f"scores vs oracle for {q}"


POSITIONAL = {
    "phrase": Phrase(((0, "merge"), (1, "join"))),
    "sloppy phrase": Phrase(((0, "merge"), (1, "join")), slop=2),
    "multi-phrase": MultiPhrase(((0, ("fast", "slow")), (1, ("join",)))),
    "within": Within(("merge", "join"), 4),
    "span": Span(SpanNearNode((SpanTerm("merge"), SpanTerm("join")), 1)),
    "spanfirst": SpanFirst("merge", 5),
}


def test_positional_preconditions(corpus_pdf):
    """Positional matchers raise on cells without a position stream; the
    (doc, pos) key-packing matchers raise on doc ids >= 2^32, while
    SpanFirst (no packed keys) still answers there."""
    oidx = build_oracle_index(corpus_pdf)
    no_pos = _scorer_from_oracle(oidx, positions=False)
    for q in POSITIONAL.values():
        with pytest.raises(ValueError, match="positions"):
            no_pos.topk(q, 10)
    big = corpus_pdf.assign(doc_id=corpus_pdf["doc_id"] + (1 << 32))
    big_oidx = build_oracle_index(big)
    for name, q in POSITIONAL.items():
        scorer = _scorer_from_oracle(big_oidx)
        if name == "spanfirst":
            d, v = scorer.topk(q, 10)
            want = search_oracle(big_oidx, q, 10)
            assert d.size and d.tolist() == want["doc_id"].tolist()
            assert (v == want["score"].to_numpy()).all()
        else:
            with pytest.raises(ValueError, match="doc_id < 2\\^32"):
                scorer.topk(q, 10)


def test_pruning_actually_prunes(oidx):
    q = Or((Term("merge"), Term("join"), Term("scan"), Term("filter"),
            Term("window")))
    sp = _scorer_from_oracle(oidx, prune=True)
    se = _scorer_from_oracle(oidx, prune=False)
    sp.topk(q, 10)
    se.topk(q, 10)
    assert sp.metrics.docs_total == se.metrics.docs_total
    assert sp.metrics.docs_scored < se.metrics.docs_scored, (
        f"MAXSCORE did not reduce scored docs: {sp.metrics} vs {se.metrics}")


def test_random_synthetic_corpora():
    """Randomized dueling (BasePostingsFormatTestCase spirit): random Zipf
    corpora, random queries, pruned engine vs brute-force oracle."""
    rng = np.random.default_rng(1234)
    vocab = np.array([f"t{i}" for i in range(60)], dtype=object)
    for trial in range(5):
        ndocs = int(rng.integers(50, 400))
        docs = []
        for i in range(ndocs):
            n = int(rng.integers(0, 80))
            words = vocab[np.minimum(rng.zipf(1.3, n), 60) - 1] if n else []
            docs.append(" ".join(words))
        pdf = pd.DataFrame({"doc_id": np.arange(ndocs, dtype=np.int64),
                            "content": docs})
        oidx = build_oracle_index(pdf)
        present = oidx.tf["term"].unique()
        if len(present) < 5:
            continue
        for _ in range(8):
            qs = rng.choice(present, size=int(rng.integers(1, 5)), replace=False)
            kind = rng.integers(0, 4)
            if kind == 0:
                q = Term(str(qs[0]))
            elif kind == 1:
                q = Or(tuple(Term(str(t)) for t in qs))
            elif kind == 2:
                q = And(tuple(Term(str(t)) for t in qs))
            else:
                q = Not(Or(tuple(Term(str(t)) for t in qs[:-1])) if len(qs) > 1
                        else Term(str(qs[0])), Term(str(qs[-1])))
            k = int(rng.integers(1, 20))
            s = _scorer_from_oracle(oidx, "lucene8", prune=True)
            d, v = s.topk(q, k)
            want = search_oracle(oidx, q, k, mode="lucene8")
            assert d.tolist() == want["doc_id"].tolist(), (q, k, trial)
            assert (v == want["score"].to_numpy()).all(), (q, k, trial)
