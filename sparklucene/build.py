"""Distributed inverted-index build — invert, merge, checkpoint, resume.

Spark-first redesign of Lucene's indexing chain (SURVEY.md §2.3, §3.3):

  Lucene DWPT thread-local invert  -> per-doc-range ``mapInArrow`` invert
  segment flush                    -> one term-sorted postings segment per
                                      range (``postings/postings-<dr>.parquet``),
                                      written atomically + manifest row
  SegmentMerger k-way term merge   -> none for postings: the segments ARE
                                      the postings table; only the term
                                      dictionary (termstats) is merged by
                                      term range
  docID remap at merge             -> unnecessary: doc_ids are global up
                                      front (deliberate Spark simplification)
  tlog / commit point              -> per-partition manifest JSON with
                                      lineage + counts; resume skips
                                      completed ranges (BASELINE.json:14)

Scale design (the 100 TB story):
  * Posting lists are sharded by **doc-range** (``drange``): a posting row
    is ``(term, drange, packed cell)``. Hot stopword-like terms therefore
    never concentrate in one task or one row — a term with 10^10 postings
    is ~10^4 rows of ~10^6 docs each. Queries re-group by ``drange`` so
    scoring is embarrassingly parallel across ranges, and AND/OR/WAND
    combine *locally* within a range (doc ranges are disjoint).
  * The invert stage is doc-partitioned (``repartition(drange)``) —
    uniform by construction (dense doc_ids), immune to term skew. Each
    range's segment is written once by its task and never rewritten, so
    a build or a streaming commit moves no posting bytes through a
    shuffle; a query finds a term's cells inside each range by the
    cache's per-batch (min, max) term stats.
  * Global term stats use a two-stage (optionally salted) aggregation over
    vocab-sized per-range termstats partials, range-partitioned by term.

The index directory must be on a shared filesystem (S3A/HDFS/NFS) in a
real cluster; tasks write their own segment files (pyarrow) so checkpoint
granularity is one doc-range, not one job.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparklucene.analysis import (ENGLISH_STOP_WORDS, AnalyzerConfig,
                                  analyze_flat, flat_token_codes)
from sparklucene.codec import encode_postings_batch
from sparklucene.corpus import with_drange
from sparklucene.norms import int_to_byte4
from sparklucene.query import FIELD_SEP

#: bump when the on-disk postings layout changes (stale-cache guard)
#: v4: per-range termstats-*.parquet partials (vocab-sized stats source)
#: v5: the per-range segments in postings/ are the postings table (no
#: term-range rewrite); v4 kept them in partials/ and merged a copy
FORMAT_VERSION = 5

MANIFEST_SCHEMA = ("drange int, status string, n_docs long, n_terms long, "
                   "n_postings long, sum_dl long, sha string")


@dataclass
class IndexPaths:
    root: str

    @property
    def partials(self) -> str:
        return os.path.join(self.root, "partials")

    @property
    def manifest_dir(self) -> str:
        return os.path.join(self.partials, "manifest")

    @property
    def postings(self) -> str:
        return os.path.join(self.root, "postings")

    @property
    def termstats(self) -> str:
        return os.path.join(self.root, "termstats")

    @property
    def stats_json(self) -> str:
        return os.path.join(self.root, "stats.json")


@dataclass(frozen=True)
class Field:
    """An additional indexed field (SURVEY.md §1.2 multi-field schema).

    Postings/dictionary keys are ``name + FIELD_SEP + term``; the field
    carries its own per-doc lengths/norms and global (doc_count, sum_dl)
    so BM25 uses per-field avgdl — Lucene's per-field Terms/Norms model.
    """

    name: str
    source: str                          # corpus column to analyze
    analyzer: AnalyzerConfig | None = None  # None = standard chain
    store_positions: bool = False


def _empty_postings() -> pa.Table:
    return pa.table({
        "term": pa.array([], type=pa.string()),
        "drange": pa.array([], type=pa.int32()),
        "df_part": pa.array([], type=pa.int64()),
        "cf_part": pa.array([], type=pa.int64()),
        "doc_bytes": pa.array([], type=pa.binary()),
        "tf_bytes": pa.array([], type=pa.binary()),
        "norm_bytes": pa.array([], type=pa.binary()),
        "pos_bytes": pa.array([], type=pa.binary()),
        "pay_bytes": pa.array([], type=pa.binary()),
        "block_last": pa.array([], type=pa.list_(pa.int64())),
        "block_max_tf": pa.array([], type=pa.list_(pa.int32())),
        "block_min_norm": pa.array([], type=pa.binary()),
    })


def _invert_stream(term_codes: np.ndarray, uniques: np.ndarray,
                   tdocs: np.ndarray, tpos: np.ndarray,
                   doc_ids: np.ndarray, norm_bytes: np.ndarray, drange: int,
                   store_positions: bool, prefix: str = "",
                   stream_sorted: bool = True,
                   payloads: np.ndarray | None = None
                   ) -> tuple[pa.Table, int, int]:
    """One factorized token stream -> packed posting cells (vectorized
    sort/reduceat — the DWPT TermsHash analog). ``term_codes`` index into
    the sorted ``uniques`` vocabulary (flat_token_codes output); ``prefix``
    is the field qualifier for non-default fields. With ``stream_sorted``
    (tokens arrive in (doc, pos) order — true for every analyzer except
    shingles, which append n-gram sections) ONE stable sort on the int
    codes replaces the 3-key lexsort — Python never touches token
    strings here."""
    if term_codes.size == 0:
        return _empty_postings(), 0, 0
    if stream_sorted:
        order = np.argsort(term_codes, kind="stable")
    else:
        order = np.lexsort((tpos, tdocs, term_codes))
    tc, dc = term_codes[order], tdocs[order]
    sorted_pos = tpos[order]
    # run-length collapse of (term, doc) -> tf
    change = np.empty(tc.size, dtype=bool)
    change[0] = True
    change[1:] = (tc[1:] != tc[:-1]) | (dc[1:] != dc[:-1])
    run_starts = np.flatnonzero(change)
    run_ends = np.concatenate((run_starts[1:], [tc.size]))
    tfs = (run_ends - run_starts).astype(np.int64)
    p_terms = tc[run_starts]
    p_docs = dc[run_starts]
    p_norms = norm_bytes[np.searchsorted(doc_ids, p_docs)]
    # term slice boundaries in the collapsed arrays
    tchange = np.empty(p_terms.size, dtype=bool)
    tchange[0] = True
    tchange[1:] = p_terms[1:] != p_terms[:-1]
    tstarts = np.concatenate((np.flatnonzero(tchange), [p_terms.size]))
    cells = encode_postings_batch(tstarts, p_docs, tfs, p_norms,
                                  sorted_pos if store_positions else None)
    # payloads: ONE raw byte per stored occurrence, aligned with the
    # position stream (Lucene keeps payloads in the .pos file too) — a
    # per-term slice needs only the cumulative-tf boundaries
    if payloads is not None:
        pay_sorted = np.asarray(payloads, dtype=np.uint8)[order]
        occ = np.concatenate(([0], np.cumsum(tfs))).astype(np.int64)
        pbounds = occ[tstarts]
        pay_out = [pay_sorted[pbounds[i]:pbounds[i + 1]].tobytes()
                   for i in range(tstarts.size - 1)]
    else:
        pay_out = [b""] * (tstarts.size - 1)
    terms_out = np.asarray(uniques, dtype=object)[p_terms[tstarts[:-1]]]
    if prefix:
        terms_out = np.array([prefix + t for t in terms_out], dtype=object)
    df_part = np.diff(tstarts)
    cf_part = np.add.reduceat(tfs, tstarts[:-1])
    postings = pa.table({
        "term": pa.array(terms_out, type=pa.string()),
        "drange": pa.array(np.full(len(cells), drange, dtype=np.int32)),
        "df_part": pa.array(df_part.astype(np.int64)),
        "cf_part": pa.array(cf_part.astype(np.int64)),
        "doc_bytes": pa.array([c.doc_bytes for c in cells], type=pa.binary()),
        "tf_bytes": pa.array([c.tf_bytes for c in cells], type=pa.binary()),
        "norm_bytes": pa.array([c.norm_bytes for c in cells], type=pa.binary()),
        "pos_bytes": pa.array([c.pos_bytes for c in cells], type=pa.binary()),
        "pay_bytes": pa.array(pay_out, type=pa.binary()),
        "block_last": pa.array([c.block_last_doc.tolist() for c in cells],
                               type=pa.list_(pa.int64())),
        "block_max_tf": pa.array([c.block_max_tf.tolist() for c in cells],
                                 type=pa.list_(pa.int32())),
        "block_min_norm": pa.array([c.block_min_norm.tobytes() for c in cells],
                                   type=pa.binary()),
    })
    return postings, int(df_part.sum()), len(cells)


def _analyze_column(col, doc_ids: np.ndarray, stopwords,
                    analyzer: AnalyzerConfig | None
                    ) -> tuple[np.ndarray, np.ndarray, np.ndarray,
                               np.ndarray, bool]:
    """Analyze one column -> (term_codes, uniques, tdocs, tpos,
    stream_sorted). ``col`` is a pyarrow string Array/ChunkedArray.
    The standard chain stays Arrow-native end-to-end; configured
    analyzers fall back to the pandas chain + a vocabulary factorize."""
    if analyzer is None or analyzer == AnalyzerConfig():
        stop = stopwords if analyzer is None else analyzer.stopwords
        codes, uniques, tdocs, tpos = flat_token_codes(col, doc_ids, stop)
        return codes, uniques, tdocs, tpos, True
    toks, tdocs, tpos = analyze_flat(col.to_pandas(), doc_ids, analyzer)
    if toks.size == 0:
        return (np.empty(0, np.int64), np.empty(0, object), tdocs, tpos, True)
    codes, uniq = pd.factorize(pd.Series(toks), sort=True)
    # shingles AND common-grams both append their n-gram section at the
    # END of the stream, so per-term doc order is no longer guaranteed
    # when a literal token collides with a generated gram spelling
    # (e.g. literal 'the_who' vs bigram of adjacent 'the who') — those
    # streams must take the full (term, doc, pos) lexsort path.
    srt = analyzer.shingle is None and analyzer.common_grams is None
    return (codes.astype(np.int64), np.asarray(uniq, dtype=object),
            tdocs, tpos, srt)


def _apply_payloads(codes: np.ndarray, uniques: np.ndarray,
                    tpos: np.ndarray, mode: str
                    ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Compute one payload byte per token of the analyzed stream.

    Modes (the pinned payload-assignment spec — oracle contract):

    * ``"delimited:<char>"`` — DelimitedPayloadTokenFilter semantics
      (``u8:lucene/analysis/common/.../payloads/DelimitedPayloadToken
      Filter.java`` with an integer encoder): a token ``foo<char>7``
      indexes term ``foo`` with payload 7 (0-255); tokens without the
      delimiter (or with a non-integer / out-of-range suffix) keep their
      spelling and get payload 1. Splitting happens on the DISTINCT
      vocabulary (O(V) Python, never per token); stripped spellings that
      collide re-factorize into one term.
    * ``"position_mix"`` — deterministic synthetic assigner for corpora
      without in-band payloads: ``1 + ((position * 31 + len(term)) % 8)``
      — position-dependent (so per-doc aggregation is non-trivial) and
      recomputable in plain SQL (the DuckDB oracle mirrors it).

    Returns (codes, uniques, payload_per_token) — codes/uniques are
    re-factorized only in delimited mode.
    """
    if mode == "position_mix":
        lens = np.fromiter((len(u) for u in uniques), dtype=np.int64,
                           count=len(uniques))
        pay = (1 + ((tpos.astype(np.int64) * 31 + lens[codes]) % 8))
        return codes, uniques, pay.astype(np.uint8)
    if mode.startswith("delimited:") and len(mode) == len("delimited:") + 1:
        delim = mode[-1]
        bases: list[str] = []
        vals = np.ones(len(uniques), dtype=np.uint8)
        for i, u in enumerate(uniques):
            head, sep, tail = u.rpartition(delim)
            if sep and head and tail.isdigit() and int(tail) <= 255:
                bases.append(head)
                vals[i] = int(tail)
            else:
                bases.append(u)
        new_of_old, new_uniq = pd.factorize(pd.Series(bases), sort=True)
        return (new_of_old.astype(np.int64)[codes],
                np.asarray(new_uniq, dtype=object), vals[codes])
    raise ValueError(f"unknown payload mode {mode!r}: expected "
                     "'position_mix' or 'delimited:<char>'")


def _invert_one_range(data, drange: int, stopwords,
                      store_positions: bool = True,
                      analyzer: AnalyzerConfig | None = None,
                      extra_fields: tuple[Field, ...] = (),
                      payload_mode: str | None = None) -> tuple[
        pa.Table, pa.Table, dict]:
    """Pure function: corpus rows of one doc range -> (postings, docmeta,
    manifest). ``data`` is a pyarrow Table (the mapInArrow fast path — no
    pandas object strings anywhere) or a pandas DataFrame (converted)."""
    if isinstance(data, pd.DataFrame):
        data = pa.Table.from_pandas(
            data[[c for c in data.columns]], preserve_index=False)
    doc_ids = data.column("doc_id").to_numpy().astype(np.int64)
    if doc_ids.size and np.any(doc_ids[1:] < doc_ids[:-1]):
        order = np.argsort(doc_ids, kind="stable")
        data = data.take(pa.array(order))
        doc_ids = doc_ids[order]
    codes, uniques, tdocs, tpos, srt = _analyze_column(
        data.column("content"), doc_ids, stopwords, analyzer)
    pay = None
    if payload_mode is not None and codes.size:
        codes, uniques, pay = _apply_payloads(codes, uniques, tpos,
                                              payload_mode)
    # doc lengths (post-stop), incl. zero-token docs
    pos_of_doc = np.searchsorted(doc_ids, tdocs)
    dl = np.bincount(pos_of_doc, minlength=doc_ids.size).astype(np.int64)
    norm_bytes = int_to_byte4(dl)
    postings, n_postings, n_terms = _invert_stream(
        codes, uniques, tdocs, tpos, doc_ids, norm_bytes, drange,
        store_positions, stream_sorted=srt, payloads=pay)
    field_meta: dict[str, dict] = {}
    if extra_fields:
        tables = [postings]
        for f in extra_fields:
            fan = f.analyzer if f.analyzer is not None else AnalyzerConfig()
            fcodes, funiq, fdocs, fpos, fsrt = _analyze_column(
                data.column(f.source), doc_ids, stopwords, fan)
            if any(FIELD_SEP in t for t in funiq):
                raise ValueError(
                    f"field {f.name!r} produced a token containing the "
                    "reserved \\x1f field separator")
            fdl = np.bincount(np.searchsorted(doc_ids, fdocs),
                              minlength=doc_ids.size).astype(np.int64)
            fnorm = int_to_byte4(fdl)
            tbl, np_f, nt_f = _invert_stream(
                fcodes, funiq, fdocs, fpos, doc_ids, fnorm, drange,
                f.store_positions, prefix=f.name + FIELD_SEP,
                stream_sorted=fsrt)
            tables.append(tbl)
            n_postings += np_f
            n_terms += nt_f
            field_meta[f.name] = {"n_docs_live": int((fdl >= 1).sum()),
                                  "sum_dl": int(fdl.sum())}
        postings = pa.concat_tables(tables)
    docmeta = pa.table({
        "drange": pa.array(np.full(doc_ids.size, drange, dtype=np.int32)),
        "doc_id": pa.array(doc_ids),
        "dl": pa.array(dl),
        "norm": pa.array(norm_bytes.astype(np.int32)),
    })
    sha = hashlib.sha256(doc_ids.tobytes() + dl.tobytes()).hexdigest()[:16]
    manifest = {"drange": int(drange), "n_docs": int(doc_ids.size),
                "n_docs_live": int((dl >= 1).sum()),
                "n_terms": int(n_terms), "n_postings": int(n_postings),
                "sum_dl": int(dl.sum()), "sha": sha, "ts": time.time()}
    if field_meta:
        manifest["fields"] = field_meta
    return postings, docmeta, manifest


def _atomic_write(table: pa.Table, path: str) -> None:
    # the "." prefix hides the half-written file from Spark and pyarrow
    # readers of the directory until the rename publishes it
    head, name = os.path.split(path)
    tmp = os.path.join(head, f".{name}.tmp-{os.getpid()}")
    pq.write_table(table, tmp, compression="zstd")
    os.replace(tmp, path)


def _require_current_format(paths: IndexPaths) -> None:
    """Refuse to write into an index of an older layout. Before format 5
    the segments lived in ``partials/`` and ``postings/`` held a merged
    copy, so writing new segments next to it would mix the two."""
    if os.path.isdir(paths.partials) and any(
            f.startswith("postings-") for f in os.listdir(paths.partials)):
        raise ValueError(
            f"{paths.root} is an index of format 4 or older (its postings "
            f"are a merged copy); format {FORMAT_VERSION} cannot add to "
            "it — rebuild the index into a fresh directory. Reading it "
            "still works.")


#: single-file manifest log written by compaction (the "_" prefix keeps it
#: off the per-range "*.json" namespace)
_COMPACTED_MANIFESTS = "_compacted.jsonl"


def _manifests(paths: IndexPaths) -> dict[int, dict]:
    """Completed per-range manifests keyed by drange (lineage records).

    Reads the compacted log first, then individual ``part-*.json`` files
    (newer, they override) — at 10^6 ranges resume costs one sequential
    file read plus however many ranges arrived since the last merge,
    instead of 10^6 tiny json loads."""
    out: dict[int, dict] = {}
    comp = os.path.join(paths.manifest_dir, _COMPACTED_MANIFESTS)
    if os.path.isfile(comp):
        with open(comp) as fh:
            for line in fh:
                if line.strip():
                    m = json.loads(line)
                    out[m["drange"]] = m
    if os.path.isdir(paths.manifest_dir):
        for f in os.listdir(paths.manifest_dir):
            if f.endswith(".json"):
                with open(os.path.join(paths.manifest_dir, f)) as fh:
                    m = json.load(fh)
                out[m["drange"]] = m
    return out


def compact_manifests(paths: IndexPaths) -> int:
    """Fold individual range manifests into the single compacted log
    (atomic replace, then unlink the folded files — a crash mid-unlink
    leaves duplicates that override with identical content, so the
    operation is idempotent). Returns the number of ranges in the log."""
    # snapshot the exact part filenames FIRST: a manifest written by a
    # racing invert between this listing and the unlink loop below must
    # survive (it was not folded into the log, so deleting it would lose
    # that range's completion record + batch_id lineage)
    folded: list[str] = []
    if os.path.isdir(paths.manifest_dir):
        folded = [f for f in os.listdir(paths.manifest_dir)
                  if f.endswith(".json")]
    all_m: dict[int, dict] = {}
    comp = os.path.join(paths.manifest_dir, _COMPACTED_MANIFESTS)
    if os.path.exists(comp):
        with open(comp) as fh:
            for line in fh:
                if line.strip():
                    m = json.loads(line)
                    all_m[m["drange"]] = m
    for f in folded:
        with open(os.path.join(paths.manifest_dir, f)) as fh:
            m = json.load(fh)
        all_m[m["drange"]] = m
    if not all_m:
        return 0
    tmp = f"{comp}.tmp-{os.getpid()}"
    with open(tmp, "w") as fh:
        for dr in sorted(all_m):
            fh.write(json.dumps(all_m[dr]) + "\n")
    os.replace(tmp, comp)
    for f in folded:
        try:
            os.unlink(os.path.join(paths.manifest_dir, f))
        except OSError:
            pass
    return len(all_m)


def _completed_dranges(paths: IndexPaths) -> set[int]:
    return set(_manifests(paths))


def invert(corpus: DataFrame, paths: IndexPaths, drange_size: int,
           stopwords=ENGLISH_STOP_WORDS, resume: bool = True,
           store_positions: bool = True,
           analyzer: AnalyzerConfig | None = None,
           lineage: dict | None = None,
           extra_fields: tuple[Field, ...] = (),
           payload_mode: str | None = None,
           n_dranges_hint: int | None = None) -> pd.DataFrame:
    """Stage A: per-doc-range invert with per-partition checkpoints.

    ``lineage`` (e.g. ``{"batch_id": 7}``) is merged into every range
    manifest this call writes — callers that must detect cross-generation
    range conflicts (streaming.py) read it back via :func:`_manifests`.
    ``n_dranges_hint`` (total ranges in ``corpus``, e.g. derived from a
    row count the caller already paid for) skips the max(drange) sizing
    agg; it only tunes task granularity, never correctness.
    Returns the manifest (one row per range, status built|skipped).
    """
    _require_current_format(paths)
    os.makedirs(paths.manifest_dir, exist_ok=True)
    os.makedirs(paths.postings, exist_ok=True)
    done = _completed_dranges(paths) if resume else set()
    cols = ["doc_id", "content"] + sorted(
        {f.source for f in extra_fields} - {"doc_id", "content"})
    sharded = with_drange(corpus.select(*cols), drange_size)
    todo = sharded.filter(~F.col("drange").isin(sorted(done))) if done else sharded
    partials_dir, manifest_dir = paths.partials, paths.manifest_dir
    postings_dir = paths.postings
    stop = frozenset(stopwords)

    man_schema = pa.schema([
        ("drange", pa.int32()), ("status", pa.string()),
        ("n_docs", pa.int64()), ("n_terms", pa.int64()),
        ("n_postings", pa.int64()), ("sum_dl", pa.int64()),
        ("sha", pa.string())])

    def build_one(sub: pa.Table, dr: int) -> dict:
        postings, docmeta, man = _invert_one_range(sub, dr, stop,
                                                   store_positions, analyzer,
                                                   extra_fields, payload_mode)
        if lineage:
            man.update(lineage)
        # the range's segment IS its slice of the postings table: written
        # once here, replaced in place by a re-invert, never merged
        _atomic_write(postings, os.path.join(postings_dir, f"postings-{dr:06d}.parquet"))
        _atomic_write(docmeta, os.path.join(partials_dir, f"docmeta-{dr:06d}.parquet"))
        # vocab-sized stats partial (term, df_part, cf_part): the merge
        # stage aggregates global term stats from THESE instead of
        # re-reading the heavy posting cells — at 100 TB the stats pass
        # touches ~0.1% of the index bytes instead of all of them
        _atomic_write(postings.select(["term", "drange", "df_part", "cf_part"]),
                      os.path.join(partials_dir, f"termstats-{dr:06d}.parquet"))
        mpath = os.path.join(manifest_dir, f"part-{dr:06d}.json")
        tmp = f"{mpath}.tmp-{os.getpid()}"
        with open(tmp, "w") as fh:
            json.dump(man, fh)
        os.replace(tmp, mpath)
        return man

    def build_partition(batches):
        # mapInArrow: corpus rows arrive as Arrow record batches and stay
        # Arrow through tokenization — per-string Python objects are never
        # created (the old applyInPandas path converted every content
        # string to a PyObject before our code even ran). The Exchange
        # below hashes dranges into ~n_dranges partitions, so a partition
        # holds ≈1 drange (hash-collision tail: O(log n / log log n), a
        # small constant in practice) — executor peak memory is a couple
        # of dranges' rows, never dranges-per-partition ~ n / parallelism.
        # Batches of a partition may interleave its (few) dranges, so
        # buffer per drange and build each group when the stream ends;
        # build_one sorts each group by doc_id itself.
        rows: list[dict] = []
        bufs: dict[int, list[pa.RecordBatch]] = {}
        for b in batches:
            if b.num_rows == 0:
                continue
            i_dr = b.schema.get_field_index("drange")
            dr = b.column(i_dr).to_numpy().astype(np.int64)
            starts = np.concatenate(([0], np.flatnonzero(np.diff(dr)) + 1))
            ends = np.concatenate((starts[1:], [dr.size]))
            for s, e in zip(starts, ends):
                bufs.setdefault(int(dr[s]), []).append(
                    b.slice(int(s), int(e - s)))
        for d in sorted(bufs):
            sub = pa.Table.from_batches(bufs.pop(d)).combine_chunks()
            man = build_one(sub, d)
            rows.append({"drange": d, "status": "built",
                         "n_docs": man["n_docs"], "n_terms": man["n_terms"],
                         "n_postings": man["n_postings"],
                         "sum_dl": man["sum_dl"], "sha": man["sha"]})
        yield pa.RecordBatch.from_pylist(rows, schema=man_schema)

    num = int(todo.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    # one task ≈ one drange once ranges OUTNUMBER the parallelism 4× —
    # at 10^6 ranges this is 10^6 ~100 MB tasks, the right granularity
    # for a 1000-executor cluster, and per-drange partitions bound
    # executor memory to ~one drange. Below that threshold the memory
    # bound is already ≤~4 dranges/partition, and matching the task
    # count to the parallelism avoids a ragged second task wave (e.g.
    # 49 dranges on 32 cores = a 32+17 straggler tail, measured ~15%
    # slower than one full wave). The range count comes from the caller's
    # hint when it already counted the corpus, else a narrow max(drange)
    # agg — doc ids are dense from 0, and the scan touches one int
    # column (<1% of corpus bytes). Either way it only sizes tasks.
    if n_dranges_hint is not None:
        n_remaining = max(1, int(n_dranges_hint) - len(done))
    else:
        max_dr = todo.agg(F.max("drange")).first()[0]
        n_remaining = (int(max_dr) + 1 - len(done)) if max_dr is not None else 1
    n_parts = n_remaining if n_remaining > 4 * num else num
    built = (todo.repartition(n_parts, "drange")
             .mapInArrow(build_partition, schema=MANIFEST_SCHEMA)
             .toPandas())
    skipped = pd.DataFrame([{"drange": d, "status": "skipped", "n_docs": -1,
                             "n_terms": -1, "n_postings": -1, "sum_dl": -1,
                             "sha": ""} for d in sorted(done)])
    return pd.concat([built, skipped], ignore_index=True) if len(skipped) else built


def merge(spark: SparkSession, paths: IndexPaths, drange_size: int,
          salt: int = 0, extra_meta: dict | None = None) -> dict:
    """Stage B: commit — global term stats + the stats.json fold.

    The postings need no merge: invert's per-range segments are the
    postings table. This stage aggregates the term dictionary from the
    vocab-sized ``termstats-*`` partials (term, drange, df_part, cf_part
    — ~0.1% of the index bytes) and writes it range-partitioned and
    sorted by term, so Parquet row-group min/max stats give term seeks
    via predicate pushdown.

    ``salt`` > 0 demonstrates skew-safe two-stage stats aggregation
    (identical results, asserted in tests); partial aggregation already
    makes the plain groupBy safe, so salting is a belt-and-braces knob
    for pathological single-term skew.
    """
    stats_src = (spark.read
                 .option("pathGlobFilter", "termstats-*.parquet")
                 .parquet(paths.partials))
    if salt > 0:
        pre = (stats_src
               .withColumn("_salt", F.pmod(F.col("drange"), F.lit(salt)))
               .groupBy("term", "_salt")
               .agg(F.sum("df_part").alias("df_s"), F.sum("cf_part").alias("cf_s")))
        stats_df = pre.groupBy("term").agg(F.sum("df_s").alias("df"),
                                           F.sum("cf_s").alias("cf"))
    else:
        stats_df = stats_src.groupBy("term").agg(F.sum("df_part").alias("df"),
                                                 F.sum("cf_part").alias("cf"))
    # the aggregation runs at shuffle parallelism; only the write of the
    # vocab-sized result is 4 tasks, the same at every cluster size
    (stats_df.repartitionByRange(4, "term")
     .sortWithinPartitions("term")
     .write.mode("overwrite").parquet(paths.termstats))
    # the segments were written by pyarrow, outside Spark: drop any
    # cached scan of postings/ so a handle opened after this commit reads
    # the new file listing (a Spark-side overwrite would do this itself)
    spark.catalog.refreshByPath(paths.postings)

    # global stats come from the per-range manifests (segment metadata) —
    # no extra pass over the data, exactly like Lucene's SegmentInfos;
    # docmeta partials stay in place as the (disjoint, sorted) docmeta
    # table — norms travel inside posting cells so it is off the hot path
    n_docs = doc_count = sum_dl = 0
    field_acc: dict[str, dict[str, int]] = {}
    for m in _manifests(paths).values():
        n_docs += m["n_docs"]
        doc_count += m.get("n_docs_live", m["n_docs"])
        sum_dl += m["sum_dl"]
        for fname, fm in m.get("fields", {}).items():
            acc = field_acc.setdefault(fname,
                                       {"doc_count": 0, "sum_dl": 0})
            acc["doc_count"] += fm["n_docs_live"]
            acc["sum_dl"] += fm["sum_dl"]
    compact_manifests(paths)
    stats = {"n_docs": n_docs, "doc_count": doc_count,
             "sum_dl": sum_dl, "drange_size": drange_size,
             "format": FORMAT_VERSION, "ts": time.time()}
    if field_acc:
        stats["fields"] = field_acc
    if extra_meta:
        stats.update(extra_meta)
    tmp = paths.stats_json + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(stats, fh, indent=1)
    os.replace(tmp, paths.stats_json)
    return stats


def build_index(spark: SparkSession, corpus: DataFrame, index_dir: str,
                drange_size: int | None = None, resume: bool = True,
                salt: int = 0, stopwords=ENGLISH_STOP_WORDS,
                store_positions: bool = True,
                analyzer: AnalyzerConfig | None = None,
                extra_fields: tuple[Field, ...] = (),
                payloads: str | None = None) -> dict:
    """Full build: invert -> merge -> stats. Returns the stats dict.

    ``extra_fields`` index additional corpus columns alongside ``content``
    (SURVEY §1.2 multi-field schema) — per-field analyzers, norms, and
    global stats; queried via ``Term(t, field="name")`` / edismax.

    ``payloads`` stores one payload byte per occurrence of the default
    field (``'delimited:<char>'`` or ``'position_mix'`` — spec on
    :func:`_apply_payloads`), queryable via ``query.PayloadScore``."""
    from sparklucene.plugins import resolve_analyzer

    analyzer = resolve_analyzer(analyzer)  # accepts registered names too
    paths = IndexPaths(index_dir)
    os.makedirs(index_dir, exist_ok=True)
    hint = None
    if drange_size is None:
        n = corpus.count()
        par = spark.sparkContext.defaultParallelism
        drange_size = max(64, 1 << int(np.ceil(np.log2(max(1, n / (4 * par))))))
        hint = -(-n // drange_size)  # dense-from-0 ids: count fixes ranges
    manifest = invert(corpus, paths, drange_size, stopwords, resume,
                      store_positions, analyzer, extra_fields=extra_fields,
                      payload_mode=payloads, n_dranges_hint=hint)
    stats = merge(spark, paths, drange_size, salt=salt,
                  extra_meta={"payloads": payloads} if payloads else None)
    stats["n_ranges"] = int(len(manifest))
    stats["n_ranges_skipped"] = int((manifest["status"] == "skipped").sum())
    return stats


def load_stats(index_dir: str) -> dict:
    with open(IndexPaths(index_dir).stats_json) as fh:
        return json.load(fh)
