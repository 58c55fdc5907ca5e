"""Codec round-trip property tests — BasePostingsFormatTestCase analog
(SURVEY.md §5.1/§5.2.1, FIXTURES.md §4)."""

import numpy as np
import pytest

from sparklucene.codec import (BLOCK_SIZE, decode_doc_ids, decode_tfs,
                               delta_decode, delta_encode, encode_postings,
                               vbyte_decode, vbyte_encode)


def test_vbyte_known_values():
    # Lucene writeVInt examples: 0->00, 127->7f, 128->80 01, 16384->80 80 01
    assert vbyte_encode(np.array([0])) == b"\x00"
    assert vbyte_encode(np.array([127])) == b"\x7f"
    assert vbyte_encode(np.array([128])) == b"\x80\x01"
    assert vbyte_encode(np.array([16384])) == b"\x80\x80\x01"
    assert list(vbyte_decode(b"\x80\x80\x01")) == [16384]


@pytest.mark.parametrize("seed", range(8))
def test_vbyte_roundtrip_random(seed):
    rng = np.random.default_rng(seed)
    n = int(rng.integers(1, 10_000))
    # heavy-tailed magnitudes across all byte-width classes
    v = (rng.pareto(0.5, n) * 100).astype(np.uint64)
    v[rng.integers(0, n, 5)] = np.uint64(2**56)
    got = vbyte_decode(vbyte_encode(v))
    assert (got == v).all()


def test_empty():
    assert vbyte_encode(np.array([], dtype=np.uint64)) == b""
    assert vbyte_decode(b"").size == 0
    cell = encode_postings(np.array([], dtype=np.int64), np.array([], dtype=np.int64))
    assert decode_doc_ids(cell.doc_bytes).size == 0


@pytest.mark.parametrize("seed", range(6))
def test_postings_roundtrip(seed):
    rng = np.random.default_rng(seed)
    n = int(rng.integers(1, 10_000))
    gaps = rng.geometric(0.05, n).astype(np.uint64)
    docs = np.cumsum(gaps)
    tfs = np.minimum(rng.zipf(1.5, n), 255).astype(np.uint64)
    norms = rng.integers(0, 256, n).astype(np.uint8)
    cell = encode_postings(docs, tfs, norms)
    assert (decode_doc_ids(cell.doc_bytes) == docs.astype(np.int64)).all()
    assert (decode_tfs(cell.tf_bytes) == tfs.astype(np.int64)).all()
    # block metadata invariants (FIXTURES.md §6.3)
    nblocks = (n + BLOCK_SIZE - 1) // BLOCK_SIZE
    assert cell.block_last_doc.size == nblocks
    assert (np.diff(cell.block_last_doc) > 0).all()
    for bi in range(nblocks):
        sl = slice(bi * BLOCK_SIZE, (bi + 1) * BLOCK_SIZE)
        assert cell.block_last_doc[bi] == docs[sl][-1]
        assert cell.block_max_tf[bi] == tfs[sl].max()
        assert cell.block_min_norm[bi] == norms[sl].min()


def test_delta_requires_sorted():
    with pytest.raises(ValueError):
        encode_postings(np.array([5, 4]), np.array([1, 1]))
    assert (delta_decode(delta_encode(np.array([7]))) == [7]).all()
