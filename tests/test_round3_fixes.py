"""Round-3 robustness fixes (ADVICE.md r2): MatchAllDocs rewrite holes,
phrase-weight empty-stats guard, compact_manifests snapshot race, lock
dead-holder takeover, deletes-at-scale distributed path, IVF zero-norm
guards, ngram-Jaccard degenerate-block cap."""

from __future__ import annotations

import json
import os
import shutil
import subprocess

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from sparklucene.query import (And, DisMax, MatchAllDocs, MatchNoDocs, Not,
                               Or, Term, rewrite)

SF = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# rewrite(): MatchAllDocs as a Not negative / DisMax clause
# ---------------------------------------------------------------------------

def test_rewrite_not_matchall_negative_is_matchnodocs():
    # excluding every doc is semantically empty — must fold at the driver,
    # not raise TypeError inside the executor's Arrow UDF
    assert rewrite(Not(Term("x"), MatchAllDocs())) == MatchNoDocs()
    assert rewrite(Not(Or((Term("x"), Term("y"))),
                       MatchAllDocs())) == MatchNoDocs()


def test_rewrite_dismax_matchall_raises_driver_side():
    with pytest.raises(ValueError, match="MatchAllDocs inside DisMax"):
        rewrite(DisMax((MatchAllDocs(), Term("x"))))


def test_rewrite_search_not_matchall_returns_empty(spark):
    from sparklucene.driver_queries import index_for
    from sparklucene.search import search

    idx = index_for(spark, SF)
    out = search(idx, Not(Term("merge"), MatchAllDocs()), k=5)
    assert out.count() == 0


# ---------------------------------------------------------------------------
# scorer: phrase weight with every slot term absent from term_stats
# ---------------------------------------------------------------------------

def test_phrase_weight_all_terms_missing_is_zero_not_indexerror():
    from sparklucene.build import _invert_one_range
    from sparklucene.query import Phrase
    from sparklucene.scorer import GlobalStats, RangeCell, RangeScorer

    pdf = pd.DataFrame({"doc_id": [1, 2],
                        "content": ["spark merge join", "spark merge scan"]})
    postings, _docmeta, man = _invert_one_range(pdf, 0, frozenset())
    cells = {}
    for row in postings.to_pylist():
        cells[row["term"]] = RangeCell(
            doc_bytes=row["doc_bytes"], tf_bytes=row["tf_bytes"],
            norm_bytes=row["norm_bytes"],
            block_last=np.asarray(row["block_last"], dtype=np.int64),
            block_max_tf=np.asarray(row["block_max_tf"], dtype=np.int32),
            block_min_norm=np.frombuffer(row["block_min_norm"],
                                         dtype=np.uint8),
            pos_bytes=row["pos_bytes"])
    # direct RangeScorer use, NO prune_missing: cells exist but term_stats
    # knows none of the slot terms
    gs = GlobalStats(doc_count=2, sum_dl=int(man["sum_dl"]), term_stats={})
    scorer = RangeScorer(cells, gs, prune=False)
    docs, scores = scorer.topk(Phrase(((0, "spark"), (1, "merge"))), k=5)
    assert np.all(scores == 0.0)


# ---------------------------------------------------------------------------
# compact_manifests: a manifest written after the snapshot must survive
# ---------------------------------------------------------------------------

def test_compact_manifests_spares_late_manifest(tmp_path, monkeypatch):
    from sparklucene import build as B

    paths = B.IndexPaths(str(tmp_path))
    os.makedirs(paths.manifest_dir)

    def man(dr):
        return {"drange": dr, "status": "built", "n_docs": 1}

    with open(os.path.join(paths.manifest_dir, "part-0.json"), "w") as fh:
        json.dump(man(0), fh)
    # late.json exists on disk but is hidden from the snapshot listing —
    # exactly the race where an invert lands a manifest between the
    # snapshot and the unlink loop
    with open(os.path.join(paths.manifest_dir, "late.json"), "w") as fh:
        json.dump(man(1), fh)
    real_listdir = os.listdir

    def hiding_listdir(d):
        return [f for f in real_listdir(d) if f != "late.json"]

    monkeypatch.setattr(B.os, "listdir", hiding_listdir)
    n = B.compact_manifests(paths)
    monkeypatch.undo()
    assert n == 1
    # the unfolded late manifest survived the unlink loop
    assert os.path.exists(os.path.join(paths.manifest_dir, "late.json"))
    assert not os.path.exists(os.path.join(paths.manifest_dir,
                                           "part-0.json"))
    assert set(B._manifests(paths)) == {0, 1}
    # next compaction folds it in
    assert B.compact_manifests(paths) == 2
    assert set(B._manifests(paths)) == {0, 1}


# ---------------------------------------------------------------------------
# index_for lock: dead-holder takeover, live-holder protection
# ---------------------------------------------------------------------------

def test_lock_with_dead_holder_pid_is_taken_over(spark, tmp_path_factory):
    import hashlib

    from sparklucene import driver_queries as dq

    tmp = str(tmp_path_factory.mktemp("lockpid"))
    sf_dir = os.path.join(tmp, "sf")
    os.makedirs(sf_dir)
    shutil.copy(os.path.join(SF, "documents.parquet"),
                os.path.join(sf_dir, "documents.parquet"))
    key = os.path.realpath(sf_dir)
    tag = hashlib.sha256(key.encode()).hexdigest()[:12]
    index_dir = os.path.join("/tmp", "sparklucene-idx",
                             f"{os.path.basename(key)}-{tag}")
    shutil.rmtree(index_dir, ignore_errors=True)
    lock = index_dir + ".lock"
    os.makedirs(lock, exist_ok=True)
    proc = subprocess.Popen(["true"])
    proc.wait()  # the pid is now provably dead
    with open(os.path.join(lock, "owner.json"), "w") as fh:
        json.dump({"pid": proc.pid}, fh)
    old = 1.0e9
    os.utime(os.path.join(lock, "owner.json"), (old, old))
    os.utime(lock, (old, old))
    idx = dq.index_for(spark, sf_dir)
    assert idx.stats["doc_count"] > 0
    assert not os.path.isdir(lock)


# ---------------------------------------------------------------------------
# persisted deletes: every search path honours them, nothing collected;
# delete_docs only appends
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def deletes_index(spark, tmp_path_factory):
    """A private copy of the sf0.001 index with persisted deletions."""
    from sparklucene import search as S
    from sparklucene.driver_queries import index_for

    src = index_for(spark, SF)  # ensures the cached build exists
    dst = str(tmp_path_factory.mktemp("delidx") / "index")
    shutil.copytree(src.paths.root, dst)
    idx = S.Index(spark, dst, cache=False)
    victims = [int(r["doc_id"]) for r in
               idx.docmeta().select("doc_id").orderBy("doc_id")
               .limit(7).collect()]
    S.delete_docs(idx, victims)
    return dst, victims


def test_deletes_cogroup_fallback_matches_broadcast(spark, deletes_index):
    from sparklucene import search as S

    dst, victims = deletes_index
    q = Or((Term("merge"), Term("vector")))
    idx1 = S.Index(spark, dst, cache=False)
    base = [(r["doc_id"], r["score"]) for r in
            S.search(idx1, q, k=10).collect()]
    assert base and not ({d for d, _ in base} & set(victims))
    # an include-set holding live AND deleted docs: deletes still win
    allow = idx1.docmeta().select("doc_id").filter(
        (F.col("doc_id") % 3 != 0) | F.col("doc_id").isin(victims))
    base_f = [(r["doc_id"], r["score"]) for r in
              S.search(idx1, q, k=10, doc_filter=allow).collect()]
    assert base_f and not ({d for d, _ in base_f} & set(victims))
    assert all(d % 3 != 0 for d, _ in base_f)
    # a fresh handle re-reads the persisted deletes
    idx2 = S.Index(spark, dst, cache=False)
    got = [(r["doc_id"], r["score"]) for r in
           S.search(idx2, q, k=10).collect()]
    assert got == base
    got_f = [(r["doc_id"], r["score"]) for r in
             S.search(idx2, q, k=10, doc_filter=allow).collect()]
    assert got_f == base_f
    # search_batch over the same deletes == serial search
    qs = {"o": q, "t": Term("vector"),
          "a": And((Term("table"), Term("scan")))}
    batch = S.search_batch(idx2, qs, k=10).toPandas()
    for n, qq in qs.items():
        want = S.search(idx2, qq, k=10).toPandas()
        sub = (batch[batch["query"] == n][["doc_id", "score"]]
               .reset_index(drop=True))
        pd.testing.assert_frame_equal(sub, want, check_exact=True)
    # MatchAll path: anti-join branch
    n_all = S.search(idx2, MatchAllDocs(), k=None).count()
    n_docs = idx2.docmeta().count()
    assert n_all == n_docs - len(victims)


def test_delete_docs_keeps_other_open_handles_readable(spark,
                                                       tmp_path_factory):
    """delete_docs only appends: a second handle that listed the deletes
    before another delete keeps answering (an overwrite would remove the
    file it listed and abort its next query with FILE_NOT_EXIST)."""
    from sparklucene import search as S
    from sparklucene.driver_queries import index_for

    dst = str(tmp_path_factory.mktemp("delhandles") / "index")
    shutil.copytree(index_for(spark, SF).paths.root, dst)
    a = S.Index(spark, dst, cache=False)
    b = S.Index(spark, dst, cache=False)
    q = Or((Term("merge"), Term("vector")))
    hits = [int(r["doc_id"]) for r in S.search(a, q, k=6).collect()]
    assert S.delete_docs(a, hits[:2]) == 2
    first = {int(r["doc_id"]) for r in S.search(b, q, k=10).collect()}
    assert not first & set(hits[:2])
    assert S.delete_docs(a, hits[1:4]) == 4
    assert S.delete_docs(a, hits[4:]) == 6
    again = {int(r["doc_id"]) for r in S.search(b, q, k=10).collect()}
    assert len(again) == 10 and not again & set(hits[:2])
    fresh = S.Index(spark, dst, cache=False)
    assert fresh.deleted_count() == 6
    got = {int(r["doc_id"]) for r in S.search(fresh, q, k=10).collect()}
    assert not got & set(hits)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_scoring_plan_is_one_exchange_and_arrow_scorer(spark, deletes_index,
                                                       monkeypatch):
    """search() plans as postings (+ sidecar rows) -> one drange Exchange
    -> one MapInArrow scorer, with or without deletes and filters."""
    from sparklucene import search as S
    from sparklucene.driver_queries import index_for

    dst, _ = deletes_index
    q = Or((Term("merge"), Term("vector")))
    plain = index_for(spark, SF)
    # one range per task: a multi-way hash Exchange on this 8-range index
    monkeypatch.setattr(S, "_RANGES_PER_TASK", 1)
    deleted = S.Index(spark, dst, cache=False)
    allow = plain.docmeta().select("doc_id").filter(F.col("doc_id") % 2 == 0)
    for df in (S.search(plain, q, k=10), S.search(deleted, q, k=10),
               S.search(plain, q, k=10, doc_filter=allow)):
        plan = _plan(df)
        assert plan.count("Exchange hashpartitioning(drange") == 1, plan
        assert "MapInArrow" in plan and "FlatMapCoGroupsInPandas" not in plan
    # no deletes and no filter: the scorer reads the postings scan alone
    assert "Union" not in _plan(S.search(plain, q, k=10))


# ---------------------------------------------------------------------------
# search_batch: MatchAll routes to the docmeta branch; per-query cursors
# ---------------------------------------------------------------------------

def test_search_batch_matchall_and_cursors_equal_serial(spark):
    from sparklucene.driver_queries import index_for
    from sparklucene.query import And, Phrase, Prefix, Wildcard
    from sparklucene.search import search, search_after, search_batch

    idx = index_for(spark, SF)
    qs = {"t": Term("vector"),
          "o": Or((Term("merge"), Term("join"))),
          "a": And((Term("table"), Term("scan"))),
          "p": Phrase(((0, "merge"), (1, "join"))),
          "ma": MatchAllDocs(),
          "nma": Not(MatchAllDocs(), Term("vector")),
          # planner cases: expansions, and absent terms that prune
          "pre": Prefix("merg"),
          "wc": Wildcard("j?in*"),
          "a0": And((Term("merge"), Term("zzz_absent_term"))),
          "o1": Or((Term("vector"), Term("zzz_absent_term")))}
    # page-2 cursors for two of them, from serial page 1
    afters = {}
    for n in ("t", "o"):
        page1 = search(idx, qs[n], k=10).collect()
        afters[n] = (page1[-1]["score"], page1[-1]["doc_id"])
    got = search_batch(idx, qs, k=10, afters=afters).toPandas()
    for n, q in qs.items():
        want = (search_after(idx, q, 10, afters[n]) if n in afters
                else search(idx, q, k=10)).toPandas()
        sub = (got[got["query"] == n][["doc_id", "score"]]
               .reset_index(drop=True))
        pd.testing.assert_frame_equal(sub, want, check_exact=True), n


# ---------------------------------------------------------------------------
# IVF: zero vectors never seed centroids / never produce NaN
# ---------------------------------------------------------------------------

def test_ivf_zero_vector_guard(spark):
    from sparklucene.similarity import ivf_cosine_topk, ivf_index

    rows = [(0, [0.0, 0.0, 0.0, 0.0], "z")]
    rng = np.random.default_rng(7)
    for i in range(1, 13):
        rows.append((i, [float(x) for x in rng.normal(size=4)], "v"))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label string")
    _assigned, cents = ivf_index(emb, n_centroids=3, iters=2)
    assert all(snorm2 > 0 for _cid, _s, snorm2 in cents)
    out = ivf_cosine_topk(emb, [1], k=3, n_centroids=3, iters=2).collect()
    assert out and all(np.isfinite(r["cosine"]) for r in out)


# ---------------------------------------------------------------------------
# ngram_jaccard_pairs: degenerate-block cap keeps survivors exact
# ---------------------------------------------------------------------------

def test_ngram_jaccard_max_block_survivors_exact(spark):
    from sparklucene.dedup import ngram_jaccard_pairs

    # one dominant source; every doc shares the hot shingle "common seq
    # filler"; docs 0/1 additionally share a rare shingle
    texts = ["common seq filler rare marker alpha",
             "common seq filler rare marker beta",
             "common seq filler unique3 x3 y3",
             "common seq filler unique4 x4 y4",
             "common seq filler unique5 x5 y5",
             "common seq filler unique6 x6 y6"]
    docs = spark.createDataFrame(
        [(i, "giant", t) for i, t in enumerate(texts)],
        "doc_id long, source string, text string")
    full = {(r["doc_a"], r["doc_b"]): (r["n_inter"], r["n_union"],
                                       r["jaccard"])
            for r in ngram_jaccard_pairs(docs, shingle=3).collect()}
    capped = {(r["doc_a"], r["doc_b"]): (r["n_inter"], r["n_union"],
                                         r["jaccard"])
              for r in ngram_jaccard_pairs(docs, shingle=3,
                                           max_block=3).collect()}
    # the hot shingles bind all 15 pairs uncapped; capped keeps only the
    # pair bound by a rare (<=3-doc) shingle — and its stats are EXACT,
    # i.e. identical to the uncapped run (capped shingles still counted
    # in the verify stage)
    assert len(full) == 15
    assert set(capped) == {(0, 1)}
    assert capped[(0, 1)] == full[(0, 1)]
