"""Per-range segments as the postings table: a commit publishes them to
new handles, an update never hides a range, older layouts refuse writes,
and a build's segment bytes are a function of its input."""

from __future__ import annotations

import glob
import json
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from sparklucene.build import IndexPaths, build_index, invert
from sparklucene.checkindex import verify_index
from sparklucene.query import Term
from sparklucene.search import Index, search
from sparklucene.streaming import index_stream_once
from sparklucene.updates import apply_atomic_updates, update_index

DR = 128
CORPUS_SCHEMA = ("repo string, path string, commit string, lang string, "
                 "content string, doc_id long")


@pytest.fixture(scope="module")
def corpus(spark, corpus_pdf):
    return spark.createDataFrame(corpus_pdf)


@pytest.fixture(scope="module")
def base(spark, corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("segments") / "base")
    build_index(spark, corpus, d, drange_size=DR)
    return d


def _copy(src: str, tmp_path, name: str) -> str:
    dst = str(tmp_path / name)
    shutil.copytree(src, dst)
    return dst


def _hits(idx: Index, term: str) -> set[int]:
    return {r["doc_id"] for r in search(idx, Term(term), k=None,
                                        mode="f64").collect()}


def test_postings_are_the_invert_segments(spark, base):
    """One term-sorted file per range in postings/, none in partials/,
    and the postings table is exactly their union."""
    paths = IndexPaths(base)
    names = sorted(os.listdir(paths.postings))
    n_ranges = len({int(f[8:14]) for f in os.listdir(paths.partials)
                    if f.startswith("docmeta-")})
    assert names == [f"postings-{dr:06d}.parquet" for dr in range(n_ranges)]
    assert not glob.glob(os.path.join(paths.partials, "postings-*"))
    for f in names:
        terms = pq.read_table(os.path.join(paths.postings, f),
                              columns=["term"])["term"].to_pylist()
        assert terms == sorted(terms)
    assert Index(spark, base).postings().count() == pq.read_table(
        paths.postings).num_rows


def test_two_builds_write_identical_segments(spark, corpus, base, tmp_path):
    d = str(tmp_path / "again")
    build_index(spark, corpus, d, drange_size=DR)
    a, b = IndexPaths(base).postings, IndexPaths(d).postings
    assert sorted(os.listdir(a)) == sorted(os.listdir(b))
    for f in os.listdir(a):
        with open(os.path.join(a, f), "rb") as fa, \
                open(os.path.join(b, f), "rb") as fb:
            assert fa.read() == fb.read(), f


def test_new_handle_sees_a_streaming_commit(spark, corpus_pdf, tmp_path):
    """A handle opened after a commit reads the new segments, even though
    the session still holds the previous generation's cached postings."""
    src, d = str(tmp_path / "src"), str(tmp_path / "idx")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    waves = (corpus_pdf[corpus_pdf.doc_id < 2 * DR],
             corpus_pdf[corpus_pdf.doc_id >= 2 * DR])
    pq.write_table(pa.Table.from_pandas(waves[0], preserve_index=False),
                   os.path.join(src, "wave0.parquet"))
    index_stream_once(spark, src, CORPUS_SCHEMA, d, DR, ckpt)
    old = Index.shared(spark, d)
    assert old.postings().count() > 0  # the cached generation
    pq.write_table(pa.Table.from_pandas(waves[1], preserve_index=False),
                   os.path.join(src, "wave1.parquet"))
    index_stream_once(spark, src, CORPUS_SCHEMA, d, DR, ckpt)
    new = Index.shared(spark, d)
    assert new is not old
    assert new.stats["n_docs"] == len(corpus_pdf)
    ranges = {r["drange"] for r in
              new.postings().select("drange").distinct().collect()}
    assert ranges == set(range(-(-len(corpus_pdf) // DR)))
    assert verify_index(new).count() == 0


def test_new_handle_sees_an_update(spark, corpus, base, tmp_path):
    d = _copy(base, tmp_path, "upd")
    old = Index.shared(spark, d)
    assert old.postings().count() > 0
    assert not _hits(old, "quagga")
    updates = spark.createDataFrame([(3, "zebra quagga")],
                                    "doc_id long, content string")
    update_index(spark, apply_atomic_updates(corpus, updates,
                                             {"content": "set"}), d, [3])
    new = Index.shared(spark, d)
    assert _hits(new, "quagga") == {3}
    assert verify_index(new).count() == 0


def test_interrupted_update_hides_no_range(spark, corpus, base, tmp_path,
                                          monkeypatch):
    """update_index forgets the affected ranges' manifests, but their
    segment, docmeta and termstats files stay until the re-invert
    replaces them: a failure inside the re-invert leaves every range
    readable, and a rerun completes the update."""
    import sparklucene.updates as U

    d = _copy(base, tmp_path, "crash")
    before = Index(spark, d)
    ids = sorted(r["doc_id"] for r in before.docmeta().collect())
    ranges = {r["drange"] for r in
              before.postings().select("drange").distinct().collect()}
    merge_hits = _hits(before, "merge")
    updates = spark.createDataFrame([(3, "zebra quagga")],
                                    "doc_id long, content string")
    merged = apply_atomic_updates(corpus, updates, {"content": "set"})

    class Crash(Exception):
        pass

    def crashing_invert(*a, **kw):
        raise Crash()

    with monkeypatch.context() as m:
        m.setattr(U, "invert", crashing_invert)
        with pytest.raises(Crash):
            update_index(spark, merged, d, [3, DR + 1])
    after = Index(spark, d)
    assert sorted(r["doc_id"] for r in after.docmeta().collect()) == ids
    assert {r["drange"] for r in after.postings().select("drange")
            .distinct().collect()} == ranges
    assert _hits(after, "merge") == merge_hits

    update_index(spark, merged, d, [3, DR + 1])
    done = Index(spark, d)
    assert _hits(done, "quagga") == {3}
    assert sorted(r["doc_id"] for r in done.docmeta().collect()) == ids
    assert verify_index(done).count() == 0


def test_update_removes_a_range_left_without_docs(spark, corpus, base,
                                                  tmp_path):
    """A range whose docs are all gone from the new corpus gets no new
    files, so update_index removes its old ones."""
    d = _copy(base, tmp_path, "shrink")
    last = max(r["doc_id"] for r in corpus.select("doc_id").collect()) // DR
    shrunk = corpus.filter(F.col("doc_id") < last * DR)
    update_index(spark, shrunk, d, [last * DR])
    idx = Index(spark, d)
    assert f"postings-{last:06d}.parquet" not in os.listdir(idx.paths.postings)
    assert idx.stats["n_docs"] == last * DR
    assert idx.docmeta().count() == last * DR
    assert verify_index(idx).count() == 0


def _as_format_4(spark, src: str, dst: str) -> None:
    """Rewrite a built index into the format-4 layout: the segments in
    partials/ and a term-range-merged copy of them in postings/."""
    shutil.copytree(src, dst)
    p = IndexPaths(dst)
    for f in os.listdir(p.postings):
        shutil.move(os.path.join(p.postings, f), os.path.join(p.partials, f))
    os.rmdir(p.postings)
    (spark.read.option("pathGlobFilter", "postings-*.parquet")
     .parquet(p.partials)
     .repartitionByRange(4, "term", "drange")
     .sortWithinPartitions("term", "drange")
     .write.parquet(p.postings))
    with open(p.stats_json) as fh:
        stats = json.load(fh)
    stats["format"] = 4
    with open(p.stats_json, "w") as fh:
        json.dump(stats, fh)


def test_format_4_index_reads_but_refuses_writes(spark, corpus, corpus_pdf,
                                                 base, tmp_path):
    d = str(tmp_path / "v4")
    _as_format_4(spark, base, d)
    for t in ("merge", "spark", "vector"):
        assert (search(Index(spark, d), Term(t), k=10).collect()
                == search(Index(spark, base), Term(t), k=10).collect())
    assert verify_index(Index(spark, d)).count() == 0

    def snapshot() -> dict:
        return {os.path.relpath(f, d): os.path.getsize(f)
                for f in glob.glob(os.path.join(d, "**", "*"),
                                   recursive=True) if os.path.isfile(f)}

    before = snapshot()
    paths = IndexPaths(d)
    with pytest.raises(ValueError, match="rebuild"):
        invert(corpus, paths, DR, resume=True)
    with pytest.raises(ValueError, match="rebuild"):
        update_index(spark, corpus, d, [3])
    src = str(tmp_path / "src")
    os.makedirs(src)
    appended = corpus_pdf.assign(doc_id=corpus_pdf.doc_id + 4 * DR)
    pq.write_table(pa.Table.from_pandas(appended, preserve_index=False),
                   os.path.join(src, "appended.parquet"))
    with pytest.raises(Exception, match="rebuild"):
        index_stream_once(spark, src, CORPUS_SCHEMA, d, DR,
                          str(tmp_path / "ckpt"))
    assert snapshot() == before
