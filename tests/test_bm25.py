"""BM25 micro-oracle — TestBM25Similarity-style checks (SURVEY.md §5.1)."""

import math

import duckdb
import numpy as np

from sparklucene import bm25
from sparklucene.codec import BLOCK_SIZE, encode_postings
from sparklucene.norms import LENGTH_TABLE, int_to_byte4
from sparklucene.scorer import GlobalStats, RangeCell, RangeScorer, TermStats


def test_idf_monotonic_decreasing_in_df():
    N = 10_000
    vals = [bm25.idf(df, N) for df in range(1, N + 1)]
    assert all(a > b for a, b in zip(vals, vals[1:]))
    assert vals[-1] > 0  # idf stays positive (the 8.x log1p form)


def test_hand_computed_score():
    # One doc, dl=4 (subnormal: exact), N=2, sum_dl=7, df=1, tf=3.
    # avgdl=3.5; idf=ln(1+(2-1+0.5)/1.5)=ln(2); denom c = 1.2*(0.25+0.75*4/3.5)
    c = 1.2 * (0.25 + 0.75 * 4 / 3.5)
    want = math.log(2.0) * 3.0 / (3.0 + c)
    got64 = bm25.score_f64(np.array([3]), np.array([4]), 1, 2, 7)
    assert abs(float(got64[0]) - want) < 1e-6
    gotl8 = bm25.score_lucene8(np.array([3]), int_to_byte4(np.array([4])), 1, 2, 7)
    assert abs(float(gotl8[0]) - want) < 1e-5  # float32 chain


def test_plus1_factor_for_7x_parity():
    a = bm25.score_lucene8(np.array([3]), np.array([4], dtype=np.uint8), 1, 2, 7)
    b = bm25.score_lucene8(np.array([3]), np.array([4], dtype=np.uint8), 1, 2, 7, plus1=True)
    assert np.isclose(float(b[0]) / float(a[0]), 2.2, rtol=1e-5)


def test_score_increases_with_tf_decreases_with_dl():
    tfs = np.arange(1, 50)
    s = bm25.score_f64(tfs, np.full(49, 100), 5, 1000, 100_000)
    assert (np.diff(s) > 0).all()
    dls = np.arange(1, 200)
    s2 = bm25.score_f64(np.full(199, 3), dls, 5, 1000, 100_000)
    assert (np.diff(s2) <= 0).all()


def test_modes_rank_identical_random():
    rng = np.random.default_rng(0)
    for _ in range(20):
        n = 500
        tfs = rng.integers(1, 50, n)
        dl = rng.integers(1, 5000, n)
        nb = int_to_byte4(dl)
        dlq = LENGTH_TABLE[nb]
        df = int(rng.integers(1, 900))
        s8 = bm25.score_lucene8(tfs, nb, df, 1000, int(dl.sum()))
        s64 = bm25.score_f64(tfs, dlq, df, 1000, int(dl.sum()))
        # ranking identical (doc index tiebreak)
        o8 = np.lexsort((np.arange(n), -s8.astype(np.float64)))
        o64 = np.lexsort((np.arange(n), -s64.astype(np.float64)))
        assert (o8 == o64).all()
        assert np.allclose(s8, s64, rtol=1e-4)


def test_sql_score_bit_exact_vs_numpy():
    rng = np.random.default_rng(1)
    n = 2000
    tf = rng.integers(1, 60, n)
    dlq = LENGTH_TABLE[rng.integers(0, 200, n).astype(np.uint8)]
    df, N, sumdl = 37, 5000, 1_234_567
    want = bm25.score_f64(tf, dlq, df, N, sumdl)
    con = duckdb.connect()
    con.register("t", __import__("pandas").DataFrame(
        {"i": np.arange(n), "tf": tf, "dlq": dlq}))
    expr = bm25.score_sql("tf", "dlq", str(df), str(N), str(sumdl))
    got = np.array([r[0] for r in con.execute(
        f"select {expr} from t order by i").fetchall()], dtype=np.float32)
    assert (got == want).all()  # bit-exact float32


def test_block_upper_bound_is_safe():
    """Block bounds (RangeScorer._block_ubs: the scorer's own similarity
    switch at (block max_tf, block min_norm)) dominate every posting score
    of their block, in every mode."""
    rng = np.random.default_rng(2)
    for _ in range(50):
        n = int(rng.integers(1, 600))
        docs = np.sort(rng.choice(1000, n, replace=False))
        tfs = rng.integers(1, 40, n)
        nb = int_to_byte4(rng.integers(1, 3000, n))
        c = encode_postings(docs, tfs, nb)
        cell = RangeCell(c.doc_bytes, c.tf_bytes, c.norm_bytes,
                         c.block_last_doc, c.block_max_tf, c.block_min_norm)
        stats = GlobalStats(1000, 500_000, {"t": TermStats(
            df=int(rng.integers(n, 1000)), cf=int(tfs.sum()))})
        block = np.arange(n) // BLOCK_SIZE
        for mode in ("lucene8", "f64", "classic", "boolean"):
            scorer = RangeScorer({"t": cell}, stats, mode=mode)
            ub = scorer._block_ubs("t", cell)
            assert ub.size == block[-1] + 1
            s = scorer._score_arrays("t", tfs, nb)
            assert (s <= ub[block]).all(), mode
