"""Seeded CheckIndex corruption-fuzz campaign (round-5 endgame).

Lucene's CheckIndex earns its keep on CORRUPT indexes (the reference's
TestCheckIndex corrupts segment files on purpose — public knowledge:
u8:lucene/core/src/test/org/apache/lucene/index/TestCheckIndex.java).
This engine's `verify_index` had a clean-index campaign (invert fuzz)
and three surgical corruption unit tests; this campaign generalizes to
a mutation taxonomy. Per seed it builds a real index from a random
corpus, asserts the clean index verifies clean, then applies each
mutation to a FRESH copy of the index and re-runs `verify_index`:

crafted structural mutations — MUST be flagged, with the expected
check name among the violations:
  * truncate doc_bytes            -> decode_error / df_part / tf_alignment
  * df_part/cf_part off-by-one    -> df_part / cf_part (+ dictionary)
  * tf re-encoded with a zero     -> tf_positive / cf_part
  * doc ids swapped (unsorted)    -> docs_sorted
  * block_last element bumped     -> block_last
  * drange beyond n_ranges        -> drange_bounds
  * termstats df bumped           -> dictionary_agreement
  * whole postings row dropped    -> dictionary_agreement
  * norm_bytes truncated          -> norm_alignment
  * pos_bytes truncated/extended  -> positions_decode / positions_count
  * block arrays shortened        -> block_count

random single-bit flips in doc_bytes / tf_bytes (redundant metadata
makes ANY such flip detectable: a changed gap shifts every later doc id
including the block-end ids, a changed tf breaks cf_part/block_max_tf,
a changed count breaks df_part/tf_alignment) — MUST be flagged; and in
norm_bytes / pos_bytes (primary data with no redundancy — Lucene can
only catch these via file checksums, out of scope for a columnar-store
layout where parquet already checksums pages) — must NOT crash the
verify job (decode_error rows instead of stack traces, the round-4
advisory's exact scenario); detection is tallied.
"""
from __future__ import annotations

import glob
import os
import random
import shutil
from collections import Counter

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from scripts.fuzz import Mismatch, expect
from sparklucene.build import build_index
from sparklucene.checkindex import verify_index
from sparklucene.codec import decode_doc_ids, decode_tfs, vbyte_encode
from sparklucene.search import Index

SEEDS = (8, 240_000)
SPARK = True

VOC = ["fast", "slow", "join", "merge", "hash", "scan", "key", "data",
       "index", "block", "term", "codec", "sort", "tree"]


def rand_corpus(rng: random.Random) -> pd.DataFrame:
    n = rng.choice([20, 60, 150])
    texts = [" ".join(rng.choice(VOC) for _ in range(rng.randint(1, 40)))
             for _ in range(n)]
    texts[0] = ""
    return pd.DataFrame({"doc_id": np.arange(n, dtype=np.int64),
                         "content": texts})


def read_parquet_dir(d: str) -> pa.Table:
    return pa.concat_tables(pq.read_table(f) for f in
                            sorted(glob.glob(os.path.join(d, "*.parquet"))))


def write_parquet_dir(d: str, table: pa.Table) -> None:
    for f in glob.glob(os.path.join(d, "*.parquet")):
        os.remove(f)
    pq.write_table(table, os.path.join(d, "part-00000.parquet"))


def flip_bit(buf: bytes, rng: random.Random) -> bytes:
    b = bytearray(buf)
    i = rng.randrange(len(b))
    b[i] ^= 1 << rng.randrange(8)
    return bytes(b)


# each mutation: (name, expected_checks or None, fn(pdf, row_i, rng))
# expected_checks None => no-crash leg (detection tallied, not required)
def mut_truncate_docs(pdf, i, rng):
    pdf.at[i, "doc_bytes"] = pdf.at[i, "doc_bytes"][:-rng.randint(1, 2)]


def mut_df_part(pdf, i, rng):
    pdf.at[i, "df_part"] = int(pdf.at[i, "df_part"]) + rng.choice([-1, 1])


def mut_cf_part(pdf, i, rng):
    pdf.at[i, "cf_part"] = int(pdf.at[i, "cf_part"]) + rng.choice([-1, 1])


def mut_zero_tf(pdf, i, rng):
    tfs = decode_tfs(bytes(pdf.at[i, "tf_bytes"]))
    tfs[rng.randrange(tfs.size)] = 0
    pdf.at[i, "tf_bytes"] = vbyte_encode(tfs.astype(np.uint64))


def mut_unsort_docs(pdf, i, rng):
    docs = decode_doc_ids(bytes(pdf.at[i, "doc_bytes"]))
    if docs.size < 2:
        return False                       # cell can't express unsorted
    docs[0], docs[-1] = docs[-1], docs[0]
    gaps = docs.astype(np.int64)
    gaps = np.where(np.arange(docs.size) == 0, docs,
                    docs - np.roll(docs, 1)).astype(np.int64)
    # raw (possibly negative-as-huge-uint) gaps: encode absolute swap
    pdf.at[i, "doc_bytes"] = vbyte_encode(
        np.abs(gaps).astype(np.uint64))
    return True


def mut_block_last(pdf, i, rng):
    bl = np.asarray(pdf.at[i, "block_last"], dtype=np.int64).copy()
    bl[rng.randrange(bl.size)] += 1
    pdf.at[i, "block_last"] = bl.tolist()


def mut_drange(pdf, i, rng):
    pdf.at[i, "drange"] = 10_000_000


def mut_drop_row(pdf, i, rng):
    pdf.drop(index=i, inplace=True)


def mut_trunc_norms(pdf, i, rng):
    nb = bytes(pdf.at[i, "norm_bytes"])
    if len(nb) < 1:
        return False
    pdf.at[i, "norm_bytes"] = nb[:-1]
    return True


def mut_pos_bytes(pdf, i, rng):
    pb = pdf.at[i, "pos_bytes"]
    if pb is None or len(bytes(pb)) == 0:
        return False
    pb = bytes(pb)
    pdf.at[i, "pos_bytes"] = (pb[:-1] if rng.random() < 0.5
                              else pb + b"\x07\x07")
    return True


def mut_block_arrays(pdf, i, rng):
    bl = list(pdf.at[i, "block_last"])
    if len(bl) < 1:
        return False
    pdf.at[i, "block_last"] = bl + [bl[-1] + 5]
    return True


def mut_flip_docs(pdf, i, rng):
    pdf.at[i, "doc_bytes"] = flip_bit(bytes(pdf.at[i, "doc_bytes"]), rng)


def mut_flip_tfs(pdf, i, rng):
    pdf.at[i, "tf_bytes"] = flip_bit(bytes(pdf.at[i, "tf_bytes"]), rng)


def mut_flip_norms(pdf, i, rng):
    nb = bytes(pdf.at[i, "norm_bytes"])
    if not nb:
        return False
    pdf.at[i, "norm_bytes"] = flip_bit(nb, rng)
    return True


def mut_flip_pos(pdf, i, rng):
    pb = pdf.at[i, "pos_bytes"]
    if pb is None or len(bytes(pb)) == 0:
        return False
    pdf.at[i, "pos_bytes"] = flip_bit(bytes(pb), rng)
    return True


MUTATIONS = [
    ("truncate_docs", {"decode_error", "df_part", "tf_alignment",
                       "docs_sorted", "docs_in_range", "block_last",
                       "dictionary_agreement", "empty_cell"},
     mut_truncate_docs),
    ("df_part_off", {"df_part", "dictionary_agreement"}, mut_df_part),
    ("cf_part_off", {"cf_part", "dictionary_agreement"}, mut_cf_part),
    ("zero_tf", {"tf_positive", "cf_part", "block_max_tf",
                 "dictionary_agreement"}, mut_zero_tf),
    ("unsort_docs", {"docs_sorted", "docs_in_range", "block_last",
                     "decode_error"}, mut_unsort_docs),
    ("block_last_bump", {"block_last"}, mut_block_last),
    ("drange_oob", {"drange_bounds", "docs_in_range"}, mut_drange),
    ("drop_row", {"dictionary_agreement"}, mut_drop_row),
    ("trunc_norms", {"norm_alignment"}, mut_trunc_norms),
    ("pos_corrupt", {"positions_decode", "positions_count"},
     mut_pos_bytes),
    ("block_arrays", {"block_count"}, mut_block_arrays),
    ("flip_doc_bit", {"decode_error", "df_part", "tf_alignment",
                      "docs_sorted", "docs_in_range", "block_last",
                      "dictionary_agreement"}, mut_flip_docs),
    ("flip_tf_bit", {"decode_error", "cf_part", "tf_alignment",
                     "tf_positive", "block_max_tf",
                     "dictionary_agreement"}, mut_flip_tfs),
    ("flip_norm_bit", None, mut_flip_norms),
    ("flip_pos_bit", None, mut_flip_pos),
]


def check(ctx, seed: int) -> Counter:
    spark = ctx.spark
    n: Counter = Counter()
    rng = random.Random(seed)
    clean_dir = os.path.join(ctx.tmp, "clean")
    build_index(spark, spark.createDataFrame(rand_corpus(rng)),
                clean_dir, drange_size=rng.choice([16, 64]))
    v0 = verify_index(Index(spark, clean_dir)).toPandas()
    expect(n, "clean", not len(v0), lambda: f"healthy index flagged: {v0}")
    base = read_parquet_dir(os.path.join(clean_dir, "postings"))
    for name, expected, fn in MUTATIONS:
        pdf = base.to_pandas()
        i = rng.randrange(len(pdf))
        if fn(pdf, i, rng) is False:     # mutation inapplicable
            continue
        bad_dir = os.path.join(ctx.tmp, f"bad-{name}")
        shutil.copytree(clean_dir, bad_dir)
        write_parquet_dir(
            os.path.join(bad_dir, "postings"),
            pa.Table.from_pandas(pdf.reset_index(drop=True),
                                 schema=base.schema, preserve_index=False))
        try:
            got = set(verify_index(Index(spark, bad_dir)).toPandas()["check"])
        except Exception as exc:
            raise Mismatch(name, f"verify_index crashed: {exc!r}") from exc
        if expected is not None:
            expect(n, name, got & expected,
                   lambda: f"flagged {got or 'nothing'}, "
                   f"expected one of {expected}")
        else:  # no-crash leg: detection tallied, not required
            n["flagged" if got else "silent_by_design"] += 1
        shutil.rmtree(bad_dir, ignore_errors=True)
    # termstats-side mutation: bump df of a random dictionary row
    tst = read_parquet_dir(os.path.join(clean_dir, "termstats"))
    tpdf = tst.to_pandas()
    j = rng.randrange(len(tpdf))
    tpdf.at[j, "df"] = int(tpdf.at[j, "df"]) + 1
    bad_dir = os.path.join(ctx.tmp, "bad-termstats")
    shutil.copytree(clean_dir, bad_dir)
    write_parquet_dir(os.path.join(bad_dir, "termstats"),
                      pa.Table.from_pandas(tpdf, schema=tst.schema,
                                           preserve_index=False))
    got = set(verify_index(Index(spark, bad_dir)).toPandas()["check"])
    expect(n, "termstats_df_bump", "dictionary_agreement" in got,
           lambda: f"not flagged (got {got})")
    return n
