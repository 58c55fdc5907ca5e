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
from sparklucene.scorer import (GlobalStats, RangeCell, RangeScorer, TermStats,
                                _take_topk, _union_sum)
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


# ---- selection, accumulation and the vectorized block-max loop -----------

def _lexsort_topk(docs, scores, k):
    """Reference: full (score desc, doc asc) lexsort, NaN scores last."""
    order = np.lexsort((docs, -scores.astype(np.float64)))
    return docs[order][:k], scores[order][:k]


def _assert_same_topk(docs, scores, k):
    gd, gs = _take_topk(docs, scores, k)
    wd, ws = _lexsort_topk(docs, scores, k)
    assert gd.tolist() == wd.tolist(), k
    assert gs.tobytes() == ws.tobytes(), k


@pytest.mark.parametrize("n", [0, 1, 7, 128, 1000, 20_000])
def test_take_topk_equals_full_lexsort(n):
    rng = np.random.default_rng(n)
    docs = rng.permutation(n * 3)[:n].astype(np.int64)
    for scores in (rng.random(n).astype(np.float32),
                   # few distinct values: heavy ties everywhere
                   rng.integers(0, 4, n).astype(np.float32),
                   # boolean mode: every score equal
                   np.full(n, np.float32(1.0)),
                   np.zeros(n, np.float32) * -1.0):
        for k in (1, 2, 10, 100, n, n + 5):
            _assert_same_topk(docs, scores, k)


def test_take_topk_nan_scores_rank_last():
    rng = np.random.default_rng(3)
    n = 5000
    docs = np.arange(n, dtype=np.int64)
    scores = rng.random(n).astype(np.float32)
    scores[rng.integers(0, n, 400)] = np.nan
    for k in (1, 10, 200):
        _assert_same_topk(docs, scores, k)
    few = np.full(n, np.nan, np.float32)
    few[[5, 900, 4000]] = [0.5, 2.0, 0.5]
    for k in (1, 3, 4, 10):  # k beyond the comparable scores
        _assert_same_topk(docs, few, k)


def test_callable_similarity_with_nan_scores_matches_lexsort(oidx):
    def nan_on_tf2(tf, dl, df, cf, n, s):
        out = tf / (tf + dl.astype(np.float64))
        return np.where(tf == 2, np.nan, out)

    for q in (Term("merge"), Or((Term("merge"), Term("join"))),
              Or((Term("merge"), Term("join"), Term("scan")),
                 min_should_match=2)):
        for k in (1, 10, 1000):
            sc = _scorer_from_oracle(oidx, mode=nan_on_tf2)
            docs, scores = sc._clause_scores(q)
            assert np.isnan(scores).any(), q
            got = _scorer_from_oracle(oidx, mode=nan_on_tf2).topk(q, k)
            want = _lexsort_topk(docs, scores, k)
            assert got[0].tolist() == want[0].tolist(), (q, k)
            assert got[1].tobytes() == want[1].tobytes(), (q, k)


def _sorted_union_sum(parts, msm):
    """Reference: the sort-based union (unique + searchsorted)."""
    parts = [(d, s) for d, s in parts if d.size]
    if not parts:
        return np.empty(0, np.int64), np.empty(0, np.float32)
    docs = np.unique(np.concatenate([d for d, _ in parts]))
    total = np.zeros(docs.size)
    count = np.zeros(docs.size, np.int64)
    for d, s in parts:
        i = np.searchsorted(docs, d)
        total[i] += s.astype(np.float64)
        count[i] += 1
    m = count >= msm
    return docs[m], total[m].astype(np.float32)


@pytest.mark.parametrize("msm", [1, 2, 3])
def test_union_sum_dense_and_sparse_paths_match_sort_path(msm):
    import tracemalloc

    rng = np.random.default_rng(msm)
    base = 1 << 33
    # dense: 3 parts over a 20k-doc span with ~60% occupancy each
    dense = []
    for _ in range(3):
        d = base + np.flatnonzero(rng.random(20_000) < 0.6)
        dense.append((d, rng.random(d.size).astype(np.float32)))
    # sparse: a 2^40-wide span over a handful of docs
    sparse = [(np.array([0, 1 << 40], np.int64),
               np.array([0.25, 1.5], np.float32)),
              (np.array([7, 1 << 40], np.int64),
               np.array([0.125, 3.0], np.float32)),
              (np.array([0, 7, 1 << 40], np.int64),
               np.array([1.0, 2.0, 4.0], np.float32))]
    for parts in (dense, sparse, dense[:1], [sparse[0], (np.empty(0, np.int64),
                                                        np.empty(0, np.float32))]):
        tracemalloc.start()
        gd, gs = _union_sum(parts, msm)
        peak = tracemalloc.get_traced_memory()[1]
        tracemalloc.stop()
        wd, ws = _sorted_union_sum(parts, msm)
        assert gd.tolist() == wd.tolist()
        assert gs.tobytes() == ws.tobytes()
        if parts[0][0].size < 10:
            assert peak < 1 << 20, peak  # the 2^40 span is never allocated


@pytest.mark.parametrize("mode", ["lucene8", "f64", "classic", "boolean"])
def test_dense_single_term_pruned_equals_exhaustive(mode):
    """A 50+-block dense cell, no deletes, no cursor: the vectorized
    block-max rounds give the exhaustive top-k bit for bit."""
    rng = np.random.default_rng(11)
    n = 57 * 128 + 37
    docs = np.sort(rng.choice(n * 5 // 4, n, replace=False)).astype(np.int64)
    tfs = np.minimum(rng.zipf(1.7, n), 40).astype(np.int64)
    tfs[rng.integers(0, n, 30)] = 60  # a few competitive outliers
    norms = rng.integers(1, 120, n).astype(np.uint8)
    c = encode_postings(docs, tfs, norms)
    stats = GlobalStats(doc_count=n * 5 // 4, sum_dl=n * 60,
                        term_stats={"t": TermStats(df=n, cf=int(tfs.sum()))})

    def scorer(prune):
        cell = RangeCell(c.doc_bytes, c.tf_bytes, c.norm_bytes,
                         c.block_last_doc, c.block_max_tf, c.block_min_norm)
        return RangeScorer({"t": cell}, stats, mode=mode, prune=prune)

    assert c.block_last_doc.size >= 50
    for k in (1, 10, 100, 1000):
        sp, se = scorer(True), scorer(False)
        dp, vp = sp.topk(Term("t"), k)
        de, ve = se.topk(Term("t"), k)
        assert dp.tolist() == de.tolist(), k
        assert vp.tobytes() == ve.tobytes(), k
        assert sp.metrics.docs_total == se.metrics.docs_total == n
        assert sp.metrics.docs_scored <= se.metrics.docs_scored, k
        if mode == "lucene8" and k == 10:
            assert sp.metrics.blocks_skipped > 0


@pytest.mark.parametrize("mode", ["lucene8", "f64", "classic"])
def test_block_whose_bound_ties_theta_is_still_scored(mode):
    """Block 1 (bound s(tf=3)) is visited first and sets θ = s(tf=2);
    block 0's bound is exactly s(tf=2), and its doc 5 ties θ with a
    smaller doc id, so it wins the tie-break and must not be skipped."""
    docs = np.arange(2 * 128, dtype=np.int64)
    tfs = np.ones(docs.size, dtype=np.int64)
    tfs[5] = 2
    tfs[[130, 131, 140]] = 2
    tfs[200] = 3
    norms = np.full(docs.size, 10, dtype=np.uint8)
    c = encode_postings(docs, tfs, norms)
    stats = GlobalStats(doc_count=1000, sum_dl=20_000,
                        term_stats={"t": TermStats(df=256,
                                                   cf=int(tfs.sum()))})
    got = {}
    for prune in (True, False):
        cell = RangeCell(c.doc_bytes, c.tf_bytes, c.norm_bytes,
                         c.block_last_doc, c.block_max_tf, c.block_min_norm)
        got[prune] = RangeScorer({"t": cell}, stats, mode=mode,
                                 prune=prune).topk(Term("t"), 3)
    assert got[False][0].tolist() == [200, 5, 130]
    assert got[True][0].tolist() == got[False][0].tolist()
    assert got[True][1].tobytes() == got[False][1].tobytes()
