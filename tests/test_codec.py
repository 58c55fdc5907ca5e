"""Codec round-trip property tests — BasePostingsFormatTestCase analog
(SURVEY.md §5.1/§5.2.1, FIXTURES.md §4)."""

import numpy as np
import pytest

from sparklucene.codec import (BLOCK_SIZE, decode_doc_ids, decode_positions,
                               decode_tfs, delta_decode, delta_encode,
                               encode_postings, vbyte_decode, vbyte_encode)


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


def _bytewise_vbyte_decode(buf) -> list[int]:
    """Reference decoder, one byte at a time (Lucene readVInt). Bytes
    after the last terminated value belong to no value."""
    out, val, shift = [], 0, 0
    for byte in bytes(buf):
        val |= (byte & 0x7F) << shift
        shift += 7
        if byte < 0x80:
            out.append(val & (2**64 - 1))
            val, shift = 0, 0
    return out


#: the first and last value of every VByte width, 1 to 10 bytes
WIDTH_EDGES = sorted({0, 2**64 - 1} | {2**(7 * w) - 1 for w in range(1, 10)}
                     | {2**(7 * w) for w in range(1, 10)} | {2**63})


def test_vbyte_every_width_roundtrips():
    for v in WIDTH_EDGES:
        width = max(1, -(-v.bit_length() // 7))
        enc = vbyte_encode(np.array([v], dtype=np.uint64))
        assert len(enc) == width, v
        got = vbyte_decode(enc)
        assert got.dtype == np.uint64 and got.tolist() == [v], v
    v = np.array(WIDTH_EDGES * 3, dtype=np.uint64)
    enc = vbyte_encode(v)
    assert vbyte_decode(enc).tolist() == v.tolist()
    assert _bytewise_vbyte_decode(enc) == v.tolist()


def test_vbyte_single_byte_and_mixed_buffers():
    rng = np.random.default_rng(7)
    small = rng.integers(0, 128, 5000).astype(np.uint64)
    enc = vbyte_encode(small)
    assert len(enc) == small.size  # no continuation bit: the fast path
    assert (vbyte_decode(enc) == small).all()
    mixed = small.copy()
    pick = rng.integers(0, small.size, 300)
    mixed[pick] = rng.integers(128, 2**40, pick.size).astype(np.uint64)
    mixed[0] = np.uint64(2**64 - 1)
    enc = vbyte_encode(mixed)
    assert vbyte_decode(enc).tolist() == _bytewise_vbyte_decode(enc)
    assert (vbyte_decode(enc) == mixed).all()


def test_vbyte_decodes_memoryview_slices():
    """Cells arrive from Arrow as memoryview slices of a shared buffer."""
    v = np.array([5, 300, 0, 2**35, 127, 128], dtype=np.uint64)
    enc = vbyte_encode(v)
    whole = memoryview(b"\x81\x82" + enc + b"\x7f")
    view = whole[2:2 + len(enc)]
    assert (vbyte_decode(view) == v).all()
    assert vbyte_decode(whole[:0]).size == 0
    small = memoryview(vbyte_encode(np.arange(100, dtype=np.uint64)))
    assert vbyte_decode(small[10:20]).tolist() == list(range(10, 20))
    cell = encode_postings(np.array([3, 9, 4000]), np.array([1, 200, 2]))
    assert decode_doc_ids(memoryview(cell.doc_bytes)).tolist() == [3, 9, 4000]
    assert decode_tfs(memoryview(cell.tf_bytes)).tolist() == [1, 200, 2]


def test_vbyte_truncated_stream_raises():
    """A stream that ends mid-value is corrupt; CheckIndex turns the
    error into a decode_error row."""
    for buf in (b"\x80", b"\xff\xff\xff", b"\x05\x80", b"\x05\x81\x80",
                b"\x80\x01\xff", vbyte_encode(np.array([300, 2**40]))[:-1]):
        with pytest.raises(ValueError, match="truncated"):
            vbyte_decode(buf)
        with pytest.raises(ValueError):
            decode_doc_ids(memoryview(buf))


@pytest.mark.parametrize("seed", range(4))
def test_decode_positions_matches_per_posting_reference(seed):
    rng = np.random.default_rng(seed)
    n = int(rng.integers(1, 3000))
    tfs = np.minimum(rng.zipf(1.6, n), 300).astype(np.int64)
    # per posting: sorted distinct positions, some past 2^14 (3 bytes)
    positions = np.concatenate([
        np.sort(rng.choice(int(rng.choice([400, 40_000])), int(t),
                           replace=False)) for t in tfs]).astype(np.int64)
    docs = np.cumsum(rng.integers(1, 50, n))
    cell = encode_postings(docs, tfs, None, positions)
    got = decode_positions(cell.pos_bytes, decode_tfs(cell.tf_bytes))
    assert got.dtype == np.int64
    gaps = _bytewise_vbyte_decode(cell.pos_bytes)
    want, i = [], 0
    for t in tfs.tolist():
        acc = 0
        for g in gaps[i:i + t]:
            acc += g
            want.append(acc)
        i += t
    assert got.tolist() == want == positions.tolist()
