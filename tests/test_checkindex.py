"""CheckIndex analog (sparklucene.checkindex.verify_index): a healthy
index verifies clean; surgical corruptions are detected by name."""

from __future__ import annotations

import glob
import os
import shutil

import pyarrow.parquet as pq
import pyarrow as pa
import pytest

from sparklucene.build import build_index
from sparklucene.checkindex import verify_index
from sparklucene.corpus import load_corpus
from sparklucene.search import Index

SF = "/root/testdata/sf0.001"
BASE = "/root/repo/.cache/test-checkindex"


@pytest.fixture(scope="module")
def healthy(spark):
    shutil.rmtree(BASE, ignore_errors=True)
    d = os.path.join(BASE, "idx")
    build_index(spark, load_corpus(spark, SF), d, drange_size=128,
                store_positions=True)
    return d


def test_healthy_index_verifies_clean(spark, healthy):
    assert verify_index(Index(spark, healthy)).count() == 0


def _corrupt(src: str, dst: str, fn) -> None:
    """Copy the index, rewrite ONE postings part file through fn."""
    shutil.rmtree(dst, ignore_errors=True)
    shutil.copytree(src, dst)
    part = sorted(glob.glob(os.path.join(dst, "postings", "*.parquet")))[0]
    t = pq.read_table(part)
    pq.write_table(fn(t), part)
    for crc in glob.glob(os.path.join(dst, "postings", ".*.crc")):
        os.remove(crc)  # hadoop checksum sidecars of the original bytes


def _replace_col(t: pa.Table, col: str, values) -> pa.Table:
    i = t.schema.get_field_index(col)
    return t.set_column(i, t.schema.field(i), values)


def test_detects_corrupt_posting_bytes(spark, healthy):
    """Flip a doc_bytes payload: decoded ids go unsorted / out of range —
    the exact silent-corruption class the round-3 advisory found."""
    bad = os.path.join(BASE, "bad-bytes")

    def fn(t):
        col = t.column("doc_bytes").to_pylist()
        b = bytearray(col[0])
        b[0] = 0x7F  # huge first delta -> ids leave the drange
        col[0] = bytes(b)
        return _replace_col(t, "doc_bytes", pa.array(col, type=pa.binary()))
    _corrupt(healthy, bad, fn)
    checks = {r["check"] for r in verify_index(Index(spark, bad)).collect()}
    assert checks & {"docs_in_range", "docs_sorted", "df_part",
                     "dictionary_agreement"}


def test_detects_wrong_block_metadata(spark, healthy):
    bad = os.path.join(BASE, "bad-blocks")

    def fn(t):
        col = t.column("block_max_tf").to_pylist()
        col[0] = [v + 1 for v in col[0]]
        return _replace_col(t, "block_max_tf",
                            pa.array(col, type=pa.list_(pa.int32())))
    _corrupt(healthy, bad, fn)
    checks = {r["check"] for r in verify_index(Index(spark, bad)).collect()}
    assert "block_max_tf" in checks


def test_detects_dictionary_divergence(spark, healthy):
    bad = os.path.join(BASE, "bad-dict")

    def fn(t):
        import pyarrow.compute as pc
        col = pc.add(t.column("cf_part"), 1)
        return _replace_col(t, "cf_part", col)
    _corrupt(healthy, bad, fn)
    checks = {r["check"] for r in verify_index(Index(spark, bad)).collect()}
    assert {"cf_part", "dictionary_agreement"} <= checks


def test_ngram_duplicate_positions_verify_clean(spark):
    """NGramTokenFilter legitimately emits the same gram twice within one
    source token, all at the token's position ('an' twice in 'banana') —
    verify_index must treat equal positions as healthy (Lucene CheckIndex
    allows posInc=0 repeats; found by the invert fuzz family, seed
    41001)."""
    import numpy as np
    import pandas as pd

    from sparklucene.analysis import AnalyzerConfig
    from sparklucene.search import term_positions

    d = os.path.join(BASE, "ngram-dup")
    shutil.rmtree(d, ignore_errors=True)
    pdf = pd.DataFrame({
        "repo": "r", "path": ["p0", "p1"], "commit": "c", "lang": "en",
        "content": ["banana split", "merge"],
        "doc_id": np.arange(2, dtype=np.int64)})
    cfg = AnalyzerConfig(ngram=(2, 2), stopwords=frozenset())
    build_index(spark, spark.createDataFrame(pdf), d, drange_size=16,
                analyzer=cfg)
    idx = Index(spark, d)
    assert verify_index(idx).count() == 0
    # 'an' occurs twice in 'banana', both at token position 0
    tp = term_positions(idx, "an").toPandas()
    assert sorted(map(tuple, tp.to_numpy().tolist())) == [(0, 0), (0, 0)]
