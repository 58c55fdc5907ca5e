"""Atomic updates: stored-doc merge semantics and the partial-reindex
half (update_index == full rebuild on the merged corpus)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from sparklucene.corpus import load_corpus
from sparklucene.updates import apply_atomic_updates, update_index

SF = "/root/testdata/sf0.001"


def test_merge_semantics(spark):
    corpus = spark.createDataFrame(
        [(0, "aa", 10), (1, "bb", 20), (2, "cc", 30)],
        "doc_id long, tag string, n long")
    updates = spark.createDataFrame(
        [(0, "zz", 5), (2, None, -7), (99, "ww", 1)],  # 99: unknown id
        "doc_id long, tag string, n long")
    got = apply_atomic_updates(corpus, updates,
                               {"tag": "set", "n": "inc"}) \
        .orderBy("doc_id").collect()
    assert [(r["doc_id"], r["tag"], r["n"]) for r in got] == \
        [(0, "zz", 15), (1, "bb", 20), (2, "cc", 23)]
    # schema preserved exactly
    assert [f.name for f in corpus.schema] == ["doc_id", "tag", "n"]
    with pytest.raises(ValueError, match="unsupported atomic ops"):
        apply_atomic_updates(corpus, updates, {"tag": "bogus-op"})
    with pytest.raises(ValueError, match="lacks columns"):
        apply_atomic_updates(corpus, updates.select("doc_id", "tag"),
                             {"tag": "set", "n": "inc"})


def test_update_index_equals_full_rebuild(spark, tmp_path):
    """The reference's delete+reindex update model: after update_index,
    every query result equals a from-scratch build over the merged
    corpus, and an updated-then-deleted doc is resurrected."""
    from sparklucene.build import build_index
    from sparklucene.query import Or, Phrase, Term
    from sparklucene.search import Index, delete_docs, search

    corpus = load_corpus(spark, SF)
    d_inc, d_full = str(tmp_path / "inc"), str(tmp_path / "full")
    build_index(spark, corpus, d_inc, drange_size=128)
    idx = Index(spark, d_inc)
    # delete one doc that the update will later resurrect
    victim = int(search(idx, Term("merge"), k=1, mode="f64")
                 .first()["doc_id"])
    delete_docs(idx, [victim])
    assert victim not in {r["doc_id"] for r in
                          search(Index(spark, d_inc), Term("merge"), k=20,
                                 mode="f64").collect()}

    # merge an update batch: rewrite two docs' content (term changes!)
    updates = spark.createDataFrame(
        [(victim, "zebra quagga unique_upd_token"),
         (7, "zebra zebra merge")],
        "doc_id long, content string")
    merged = apply_atomic_updates(corpus, updates, {"content": "set"})
    update_index(spark, merged, d_inc, [victim, 7])

    build_index(spark, merged, d_full, drange_size=128)
    a, b = Index(spark, d_inc), Index(spark, d_full)
    assert a.stats["doc_count"] == b.stats["doc_count"]
    assert a.stats["sum_dl"] == b.stats["sum_dl"]
    for q in (Term("zebra"), Term("merge"),
              Or((Term("zebra"), Term("join"))),
              Phrase(((0, "zebra"), (1, "quagga")))):
        ra = search(a, q, k=10, mode="f64").toPandas()
        rb = search(b, q, k=10, mode="f64").toPandas()
        assert ra.values.tolist() == rb.values.tolist(), str(q)
    # the updated victim is live again and findable by its new content
    hits = {r["doc_id"]
            for r in search(a, Term("unique_upd_token"), k=5).collect()}
    assert hits == {victim}
    # untouched ranges were NOT rebuilt (their manifests survived)
    from sparklucene.build import IndexPaths, _manifests
    mans = _manifests(IndexPaths(d_inc))
    assert len(mans) == len(_manifests(IndexPaths(d_full)))


def test_multivalued_atomic_ops(spark):
    """add / add-distinct / remove over array fields (the reference's
    AtomicUpdateDocumentMerger multivalued semantics)."""
    from pyspark.sql import functions as F
    corpus = spark.createDataFrame(
        [(0, ["a", "b"], ["x", "y", "x"]),
         (1, ["a"], ["x"]),
         (2, ["c"], ["y"])],
        "doc_id long, tags array<string>, labels array<string>")
    ups = spark.createDataFrame(
        [(0, ["b", "d"], ["x"]), (2, ["c", "c"], None)],
        "doc_id long, tags array<string>, labels array<string>")
    got = {r["doc_id"]: (r["tags"], r["labels"])
           for r in apply_atomic_updates(
               corpus, ups, {"tags": "add-distinct", "labels": "remove"})
           .collect()}
    assert got[0] == (["a", "b", "d"], ["y"])      # b present; ALL x gone
    assert got[1] == (["a"], ["x"])                # not in batch
    assert got[2] == (["c"], ["y"])                # add-distinct: no dup
    got2 = {r["doc_id"]: r["tags"] for r in apply_atomic_updates(
        corpus, ups, {"tags": "add"}).collect()}
    assert got2[0] == ["a", "b", "b", "d"]         # plain add keeps dups


def test_duplicate_update_ids_rejected(spark):
    """A batch with two rows for one doc_id must raise — a relational
    left-join merge would duplicate the corpus row with arbitrary
    winners (DataFrame batches have no request order); the reference
    serializes such updates as separate requests."""
    import pytest

    from sparklucene.updates import apply_atomic_updates

    corpus = spark.createDataFrame([(0, "a"), (1, "b")],
                                   "doc_id long, title string")
    up = spark.createDataFrame([(0, "x"), (0, "y"), (1, "z")],
                               "doc_id long, title string")
    with pytest.raises(ValueError, match="multiple rows"):
        apply_atomic_updates(corpus, up, {"title": "set"})


def test_interrupted_update_index_keeps_other_deletes(spark, tmp_path,
                                                     monkeypatch):
    """update_index un-deletes the updated docs without ever leaving
    deletes/ short of the other deletes: a crash right after the first
    removal of old delete data still hides every deleted doc outside the
    update batch from a fresh Index, and rerunning update_index
    completes the un-delete."""
    import shutil

    from sparklucene.build import build_index
    from sparklucene.query import Term
    from sparklucene.search import Index, delete_docs, search

    corpus = load_corpus(spark, SF)
    d = str(tmp_path / "idx")
    build_index(spark, corpus, d, drange_size=128)
    v0, v1, v2 = [int(r["doc_id"]) for r in search(
        Index(spark, d), Term("merge"), k=3, mode="f64").collect()]
    delete_docs(Index(spark, d), [v0, v1])
    delete_docs(Index(spark, d), [v2])
    updates = spark.createDataFrame([(v0, "zebra quagga unique_upd_token")],
                                    "doc_id long, content string")
    merged = apply_atomic_updates(corpus, updates, {"content": "set"})

    class Crash(Exception):
        pass

    def deleted(p) -> bool:
        return os.path.basename(os.path.normpath(p)) == "deletes"

    real_unlink, real_rmtree = os.unlink, shutil.rmtree

    def unlink(p, *a, **kw):  # crash after the first old deletes file
        real_unlink(p, *a, **kw)
        if deleted(os.path.dirname(p)) and str(p).endswith(".parquet"):
            raise Crash(p)

    def rmtree(p, *a, **kw):  # ... or after the whole old directory
        real_rmtree(p, *a, **kw)
        if deleted(p):
            raise Crash(p)

    with monkeypatch.context() as m:
        m.setattr(os, "unlink", unlink)
        m.setattr(shutil, "rmtree", rmtree)
        with pytest.raises(Crash):
            update_index(spark, merged, d, [v0])

    hits = {r["doc_id"] for r in search(Index(spark, d), Term("merge"),
                                        k=None, mode="f64").collect()}
    assert not hits & {v1, v2}, "deletes outside the batch came back"

    update_index(spark, merged, d, [v0])
    idx = Index(spark, d)
    assert {r["doc_id"] for r in idx.deletes_df().collect()} == {v1, v2}
    assert {r["doc_id"] for r in search(idx, Term("unique_upd_token"),
                                        k=5).collect()} == {v0}
