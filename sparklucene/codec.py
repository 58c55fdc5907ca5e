"""Posting-list codec: delta-gap + variable-byte, 128-doc blocks, block-max.

Reimplements from public knowledge of Apache Lucene 8.x:
  - VByte == Lucene ``DataOutput.writeVInt``: little-endian 7-bit groups,
    high bit = continuation (lucene/core/.../store/DataOutput.java).
  - docIDs are sorted; stored as delta gaps (first value absolute).
  - 128-doc blocks with per-block impact metadata (last_doc, max_tf,
    min_norm) mirroring Lucene84SkipWriter impacts — these power
    block-max WAND (SURVEY.md §4.2) and skip-list style ``advance``
    (searchsorted on the block last_doc array).

All encode/decode paths are vectorized numpy — no per-element Python in
the hot loop. Cells are ``bytes`` so posting lists travel through Spark
as packed binary columns (shuffle volume ~ index size, SURVEY.md §7.4.5).

Decoding works per value, not per byte: a buffer without a continuation
bit (every tf stream, most dense doc-gap and position streams) is one
widening copy; otherwise each value starts from its last byte and the
values longer than j bytes OR in byte ``end - j``, one vectorized round
per extra byte width (see :func:`vbyte_decode`).
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np

BLOCK_SIZE = 128


def vbyte_encode(values: np.ndarray) -> bytes:
    """Vectorized VByte (Lucene writeVInt) encode of a uint64 array."""
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return b""
    # number of 7-bit groups per value (at least 1)
    nbytes = np.ones(v.shape, dtype=np.int64)
    tmp = v >> np.uint64(7)
    while tmp.any():
        nbytes += (tmp > 0).astype(np.int64)
        tmp >>= np.uint64(7)
    total = int(nbytes.sum())
    out = np.empty(total, dtype=np.uint8)
    # position of first byte of each value
    starts = np.concatenate(([0], np.cumsum(nbytes)[:-1]))
    # write groups: for k in 0..maxbytes-1 scatter the k-th 7-bit group
    maxb = int(nbytes.max())
    for k in range(maxb):
        mask = nbytes > k
        idx = starts[mask] + k
        vals = (v[mask] >> np.uint64(7 * k)) & np.uint64(0x7F)
        cont = (nbytes[mask] > k + 1).astype(np.uint8) << 7
        out[idx] = vals.astype(np.uint8) | cont
    return out.tobytes()


def vbyte_decode(buf: bytes | memoryview) -> np.ndarray:
    """Vectorized VByte decode -> uint64 array, by value rather than by
    byte. A buffer with no continuation bit set holds one byte per value
    and decodes as a plain widening copy (every tf stream, most dense
    doc-gap streams). Otherwise each value's last byte (continuation bit
    clear) seeds it, and round j = 1 .. longest-1 shifts the values
    longer than j bytes left by 7 and ORs in their byte ``end - j``, so
    the rounds shrink to the long values. A buffer that ends mid-value
    (its last byte has the continuation bit) is corrupt and raises
    ``ValueError``, which CheckIndex reports as a decode error."""
    raw = np.frombuffer(buf, dtype=np.uint8)
    if raw.size == 0 or raw.max() < 0x80:
        return raw.astype(np.uint64)
    if raw[-1] >= 0x80:
        raise ValueError("truncated VByte stream: the last byte has the "
                         "continuation bit set")
    ends = np.flatnonzero(raw < 0x80)
    lens = np.empty_like(ends)  # bytes per value
    lens[:1] = ends[:1] + 1
    np.subtract(ends[1:], ends[:-1], out=lens[1:])
    out = raw[ends].astype(np.uint64)
    j = 1
    sel = np.flatnonzero(lens > j)
    while sel.size:
        out[sel] = ((out[sel] << np.uint64(7))
                    | (raw[ends[sel] - j] & 0x7F).astype(np.uint64))
        j += 1
        sel = sel[lens[sel] > j]
    return out


def delta_encode(sorted_values: np.ndarray) -> np.ndarray:
    """Sorted ids -> gaps (first absolute). Gaps must be >= 1 for doc ids."""
    v = np.asarray(sorted_values, dtype=np.uint64)
    if v.size == 0:
        return v
    out = np.empty_like(v)
    out[0] = v[0]
    np.subtract(v[1:], v[:-1], out=out[1:])
    return out


def delta_decode(gaps: np.ndarray) -> np.ndarray:
    g = np.asarray(gaps, dtype=np.uint64)
    return np.cumsum(g, dtype=np.uint64)


class PostingCell(NamedTuple):
    """One packed posting-list cell for a (term, doc-range) shard."""

    doc_bytes: bytes        # delta+vbyte docIDs
    tf_bytes: bytes         # vbyte term frequencies
    norm_bytes: bytes       # raw uint8 norm byte per posting (impact-style)
    block_last_doc: np.ndarray  # int64[nblocks] — last docID per 128-block
    block_max_tf: np.ndarray    # int32[nblocks]
    block_min_norm: np.ndarray  # uint8[nblocks] — smallest norm byte (shortest doc)
    pos_bytes: bytes = b""  # delta+vbyte positions, reset per doc (.pos file)


def encode_postings(doc_ids: np.ndarray, tfs: np.ndarray,
                    norms: np.ndarray | None = None,
                    positions: np.ndarray | None = None) -> PostingCell:
    """Pack sorted (doc_ids, tfs[, norm bytes]) into a compressed cell.

    ``norms`` are the norm bytes aligned with doc_ids, stored raw (1
    byte/posting) inside the cell — the impact-list design (Lucene 8.x
    keeps (freq, norm) impact pairs with the postings) taken to its
    conclusion so BM25 scoring needs no separate norms lookup/shuffle at
    query time. When omitted, norms are all-0 (score-safe upper bounds).
    """
    d = np.asarray(doc_ids, dtype=np.uint64)
    t = np.asarray(tfs, dtype=np.uint64)
    if d.size != t.size:
        raise ValueError("doc_ids and tfs length mismatch")
    if d.size > 1 and not (d[1:] > d[:-1]).all():
        raise ValueError("doc_ids must be strictly increasing")
    n = d.size
    nblocks = (n + BLOCK_SIZE - 1) // BLOCK_SIZE
    last = np.empty(nblocks, dtype=np.int64)
    maxtf = np.empty(nblocks, dtype=np.int32)
    minnorm = np.zeros(nblocks, dtype=np.uint8)
    nb = (np.asarray(norms, dtype=np.uint8) if norms is not None
          else np.zeros(n, dtype=np.uint8))
    if n:
        ends = np.minimum(np.arange(1, nblocks + 1) * BLOCK_SIZE, n)
        last[:] = d[ends - 1].astype(np.int64)
        # block-wise max tf via reduceat
        starts = np.arange(nblocks) * BLOCK_SIZE
        maxtf[:] = np.maximum.reduceat(t, starts).astype(np.int32)
        # LENGTH_TABLE is monotone in the byte, so min byte == min length
        minnorm[:] = np.minimum.reduceat(nb, starts)
    pos_bytes = b""
    if positions is not None:
        p = np.asarray(positions, dtype=np.uint64)
        if int(t.sum()) != p.size:
            raise ValueError("positions length must equal sum(tfs)")
        seg_starts = np.concatenate(([0], np.cumsum(t)[:-1])).astype(np.int64)
        gaps = p.copy()
        gaps[1:] -= p[:-1]
        gaps[seg_starts] = p[seg_starts]
        pos_bytes = vbyte_encode(gaps)
    return PostingCell(
        doc_bytes=vbyte_encode(delta_encode(d)),
        tf_bytes=vbyte_encode(t),
        norm_bytes=nb.tobytes(),
        block_last_doc=last,
        block_max_tf=maxtf,
        block_min_norm=minnorm,
        pos_bytes=pos_bytes,
    )


def _vbyte_lengths(values: np.ndarray) -> np.ndarray:
    """Bytes each value needs under VByte (>=1)."""
    v = np.asarray(values, dtype=np.uint64)
    nbytes = np.ones(v.shape, dtype=np.int64)
    tmp = v >> np.uint64(7)
    while tmp.any():
        nbytes += (tmp > 0).astype(np.int64)
        tmp >>= np.uint64(7)
    return nbytes


def encode_postings_batch(starts: np.ndarray, docs: np.ndarray, tfs: np.ndarray,
                          norms: np.ndarray,
                          positions: np.ndarray | None = None) -> list[PostingCell]:
    """Encode many posting lists in one vectorized pass (invert hot path).

    ``starts`` — int64[nterms+1] offsets delimiting each term's slice of
    the flat, per-term-doc-sorted ``docs``/``tfs``/``norms`` arrays.
    ``positions`` — optional flat position stream sorted by (term, doc,
    position); its per-(term,doc) segments have lengths ``tfs``.
    All heavy work (gap computation, VByte packing, block-max reduction)
    happens once over the whole partition; per-term work is just slicing.
    """
    starts = np.asarray(starts, dtype=np.int64)
    nterms = starts.size - 1
    docs = np.asarray(docs, dtype=np.uint64)
    tfs = np.asarray(tfs, dtype=np.uint64)
    norms = np.asarray(norms, dtype=np.uint8)
    n = docs.size
    if n == 0:
        return [PostingCell(b"", b"", b"", np.empty(0, np.int64),
                            np.empty(0, np.int32), np.empty(0, np.uint8))
                for _ in range(nterms)]
    # gaps, reset to absolute at each term start
    gaps = docs.copy()
    gaps[1:] -= docs[:-1]
    term_starts = starts[:-1][starts[:-1] < n]
    gaps[term_starts] = docs[term_starts]
    doc_buf = np.frombuffer(vbyte_encode(gaps), dtype=np.uint8)
    tf_buf = np.frombuffer(vbyte_encode(tfs), dtype=np.uint8)
    doc_off = np.concatenate(([0], np.cumsum(_vbyte_lengths(gaps))))
    tf_off = np.concatenate(([0], np.cumsum(_vbyte_lengths(tfs))))
    pos_buf = pos_off = ptotal = None
    if positions is not None:
        p = np.asarray(positions, dtype=np.uint64)
        # segment starts (one segment per collapsed (term,doc) run)
        ptotal = np.concatenate(([0], np.cumsum(tfs))).astype(np.int64)
        pgaps = p.copy()
        pgaps[1:] -= p[:-1]
        pgaps[ptotal[:-1]] = p[ptotal[:-1]]
        pos_buf = np.frombuffer(vbyte_encode(pgaps), dtype=np.uint8)
        pos_off = np.concatenate(([0], np.cumsum(_vbyte_lengths(pgaps))))
    # global block grid: blocks never cross term boundaries
    lengths = np.diff(starts)
    nblocks = (lengths + BLOCK_SIZE - 1) // BLOCK_SIZE
    tot_blocks = int(nblocks.sum())
    term_of_block = np.repeat(np.arange(nterms), nblocks)
    blk_cum = np.concatenate(([0], np.cumsum(nblocks)))
    within = np.arange(tot_blocks) - blk_cum[term_of_block]
    bstart = starts[term_of_block] + within * BLOCK_SIZE
    bend = np.minimum(bstart + BLOCK_SIZE, starts[term_of_block + 1])
    blast = docs[bend - 1].astype(np.int64) if tot_blocks else np.empty(0, np.int64)
    bmaxtf = (np.maximum.reduceat(tfs, bstart).astype(np.int32)
              if tot_blocks else np.empty(0, np.int32))
    bminnorm = (np.minimum.reduceat(norms, bstart)
                if tot_blocks else np.empty(0, np.uint8))
    cells: list[PostingCell] = []
    for t in range(nterms):
        b0, b1 = blk_cum[t], blk_cum[t + 1]
        pb = b""
        if pos_buf is not None:
            pb = pos_buf[pos_off[ptotal[starts[t]]]:
                         pos_off[ptotal[starts[t + 1]]]].tobytes()
        cells.append(PostingCell(
            doc_bytes=doc_buf[doc_off[starts[t]]:doc_off[starts[t + 1]]].tobytes(),
            tf_bytes=tf_buf[tf_off[starts[t]]:tf_off[starts[t + 1]]].tobytes(),
            norm_bytes=norms[starts[t]:starts[t + 1]].tobytes(),
            block_last_doc=blast[b0:b1],
            block_max_tf=bmaxtf[b0:b1],
            block_min_norm=bminnorm[b0:b1],
            pos_bytes=pb,
        ))
    return cells


def decode_doc_ids(doc_bytes: bytes) -> np.ndarray:
    # an int64 cumsum over the uint64 gaps wraps like the uint64 one, so
    # the ids come out bit-equal to a uint64 cumsum cast, with one pass
    return np.cumsum(vbyte_decode(doc_bytes).view(np.int64))


def decode_tfs(tf_bytes: bytes) -> np.ndarray:
    return vbyte_decode(tf_bytes).view(np.int64)


def decode_positions(pos_bytes: bytes, tfs: np.ndarray) -> np.ndarray:
    """Flat absolute positions; per-posting segments of lengths ``tfs``
    (deltas reset at each posting's first position). Vectorized segmented
    cumsum — no per-doc Python loop."""
    gaps = vbyte_decode(pos_bytes).view(np.int64)
    if gaps.size == 0:
        return gaps
    t = np.asarray(tfs, dtype=np.int64)
    seg_starts = np.concatenate(([0], np.cumsum(t)[:-1]))
    cs = np.cumsum(gaps)
    base = np.repeat(cs[seg_starts] - gaps[seg_starts], t)
    return cs - base

