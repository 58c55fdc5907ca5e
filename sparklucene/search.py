"""Distributed top-k search — the two-phase Solr/Lucene plan on Spark.

Maps the reference's distributed query lifecycle (SURVEY.md §3.2, public
knowledge of QueryComponent.distributedProcess / TopDocs.merge) onto
Catalyst:

  phase 0  parse + rewrite (driver, tiny AST)
  phase 1  stats gather: df/cf for the query terms by binary search in
           the handle's driver-held dictionary (no Spark job), shipped
           inside the scorer closure — Lucene's TermStates.build
           (phases 0-1 are :func:`_plan`)
  phase 2  scatter: postings rows for the query terms (term-pruned scan;
           norm bytes are inlined in the cells, so no docmeta join) are
           grouped by doc-range; each task runs the vectorized
           RangeScorer (WAND/MAXSCORE) and emits its local top-k —
           Solr's per-shard STAGE_EXECUTE_QUERY
  phase 3  merge: global orderBy(score desc, doc_id asc).limit(k) over
           <= n_ranges * k candidate rows — TopDocs.merge
  phase 4  optional hydration: broadcast semi-join of the k winners back
           to the corpus — Solr's STAGE_GET_FIELDS second round

Only packed binary cells and k-row results ever shuffle; posting decode
and scoring stay columnar inside Arrow batches.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

import bisect
import dataclasses
import os
import threading
from collections import OrderedDict

from sparklucene.build import IndexPaths, load_stats
from sparklucene.corpus import with_drange
from sparklucene.query import (And, ConstantScore, DisMax, Filtered, Fuzzy,
                               MatchAllDocs, MatchNoDocs, MultiTermQuery,
                               Not, Or, Prefix, Query, Regexp, Term,
                               TermInSet, TermRange, TopTerms, Wildcard,
                               FIELD_SEP,
                               field_key, parse, prune_missing, qualify,
                               rewrite)
from sparklucene.scorer import GlobalStats, RangeCell, RangeScorer, TermStats

RESULT_SCHEMA = "doc_id long, score double"
BATCH_SCHEMA = "query string, doc_id long, score double"

#: generation-aware shared Index handles (see Index.shared) — LRU so
#: long sessions touching many index dirs don't pin every postings
#: cache forever
_SHARED_HANDLES: "OrderedDict[tuple, Index]" = OrderedDict()
_SHARED_HANDLES_MAX = 64
_SHARED_HANDLES_LOCK = threading.Lock()


def _dir_mtime(path: str) -> int:
    """Latest mtime_ns under ``path`` (0 when absent) — the deletes-dir
    generation stamp for Index.shared's cache key. Nanosecond stat so a
    rebuild landing within one coarse-mtime tick (1 s on some
    filesystems) still changes the key."""
    if not os.path.isdir(path):
        return 0
    best = os.stat(path).st_mtime_ns
    for name in os.listdir(path):
        try:
            best = max(best, os.stat(os.path.join(path, name)).st_mtime_ns)
        except OSError:
            pass
    return best


class _TermDictionary:
    """The termstats ``(term, df, cf)`` as one term-sorted Arrow table on
    the driver — Lucene's in-heap terms index over the sorted term file.
    Lookups binary-search the raw UTF-8 bytes of the term column (byte
    order is Spark's string order and Python's code-point order), so a
    term costs O(log vocab) slices and no Spark job."""

    def __init__(self, table: pa.Table):
        table = table.drop_null()
        self.terms = table["term"].combine_chunks()
        # the build writes range-partitioned, sorted files, so the
        # sort is normally skipped (a 10^6-term check is ~10 ms)
        ordered = pc.less_equal(self.terms[:-1], self.terms[1:])
        if not pc.all(ordered).as_py():
            table = table.sort_by("term")
            self.terms = table["term"].combine_chunks()
        self.df = table["df"].combine_chunks().to_numpy(zero_copy_only=False)
        self.cf = table["cf"].combine_chunks().to_numpy(zero_copy_only=False)
        width = (np.int64 if pa.types.is_large_string(self.terms.type)
                 else np.int32)
        _, obuf, dbuf = self.terms.buffers()
        n, o = len(self.terms), self.terms.offset
        self._off = np.frombuffer(obuf, width)[o:o + n + 1] if n else ()
        self._data = dbuf.to_pybytes() if dbuf is not None else b""
        self._rows = range(n)

    def _key(self, i: int, width: int | None = None) -> bytes:
        lo, hi = self._off[i], self._off[i + 1]
        return self._data[lo:hi if width is None else min(hi, lo + width)]

    def find(self, term: str) -> int | None:
        """Row of ``term``, or None when it is not in the dictionary."""
        b = term.encode()
        i = bisect.bisect_left(self._rows, b, key=self._key)
        return i if i < len(self._rows) and self._key(i) == b else None

    def prefix(self, p: str) -> tuple[int, int]:
        """Row span of the terms starting with ``p`` (truncation to the
        prefix's length keeps the order, so two bisects find it)."""
        b = p.encode()
        key = lambda i: self._key(i, len(b))  # noqa: E731
        return (bisect.bisect_left(self._rows, b, key=key),
                bisect.bisect_right(self._rows, b, key=key))

    def bound(self, t: str, upper: bool, inclusive: bool) -> int:
        """Span edge for a range bound: the first row above ``t`` for an
        inclusive upper / exclusive lower bound, else the first row at
        or above it."""
        b = t.encode()
        side = (bisect.bisect_right if upper == inclusive
                else bisect.bisect_left)
        return side(self._rows, b, key=self._key)

    def slice(self, lo: int, hi: int) -> pa.Array:
        """The terms of rows ``[lo, hi)`` (empty when inverted)."""
        return self.terms.slice(lo, max(0, hi - lo))


class Index:
    """Handle to a built index directory (SURVEY.md §1.2 layout).

    ``cache=True`` persists the postings/termstats DataFrames across
    queries (Solr's searcher-held segment readers analog) — repeated
    queries skip the parquet scan entirely. Query planning reads the
    term dictionary instead: the termstats held term-sorted on the
    driver (read once per handle, lazily), so term stats and most
    multi-term expansions run no Spark job.
    """

    @staticmethod
    def shared(spark: SparkSession, index_dir: str) -> "Index":
        """A generation-aware cached handle (Solr's core container keeps
        its searcher open between commits; reopening per request throws
        away the persisted postings cache and the term dictionary).

        The cache key includes the index GENERATION — mtimes of
        stats.json (rewritten by every merge/build) and the deletes dir
        (touched by every delete_docs) — so a rebuilt or newly-deleted-
        from index gets a fresh handle automatically, exactly like
        Lucene's reopen-on-commit. Evicted handles unpersist their
        cached DataFrames (LRU, bounded driver/cache footprint)."""
        p = IndexPaths(index_dir)
        st = os.stat(p.stats_json)  # mtime_ns + size: a rebuild inside
        # one coarse-mtime tick still flips the generation key
        key = (id(spark), os.path.abspath(index_dir),
               st.st_mtime_ns, st.st_size,
               _dir_mtime(os.path.join(p.root, "deletes")))
        evicted: list[Index] = []
        with _SHARED_HANDLES_LOCK:
            hit = _SHARED_HANDLES.get(key)
            if hit is not None:
                _SHARED_HANDLES.move_to_end(key)
                return hit
            idx = Index(spark, index_dir)
            _SHARED_HANDLES[key] = idx
            while len(_SHARED_HANDLES) > _SHARED_HANDLES_MAX:
                evicted.append(_SHARED_HANDLES.popitem(last=False)[1])
        for old in evicted:
            for df in (old._postings, old._termstats):
                if df is not None:
                    try:
                        df.unpersist()
                    except Exception:
                        pass  # session already stopped
        return idx

    def __init__(self, spark: SparkSession, index_dir: str, cache: bool = True):
        self.spark = spark
        self.paths = IndexPaths(index_dir)
        self.stats = load_stats(index_dir)
        self._cache = cache
        self._postings: DataFrame | None = None
        self._termstats: DataFrame | None = None
        self._dict: _TermDictionary | None = None
        self._deletes: DataFrame | None = None
        self._deleted_count: int | None = None
        self._expand_memo: dict[tuple, list[str]] = {}  # Regexp / Fuzzy
        # lazy-init guard: shared handles are hit from fan-out THREADS;
        # without it two racing threads both persist() and one cached
        # DataFrame leaks in executor storage for the session lifetime
        self._init_lock = threading.Lock()

    def postings(self) -> DataFrame:
        if self._postings is None:
            with self._init_lock:
                if self._postings is None:
                    df = self.spark.read.parquet(self.paths.postings)
                    self._postings = df.persist() if self._cache else df
        return self._postings

    def docmeta(self) -> DataFrame:
        # the invert-stage partials ARE the docmeta table (disjoint
        # drange shards sorted by doc_id); merge never rewrites them
        return (self.spark.read
                .option("pathGlobFilter", "docmeta-*.parquet")
                .parquet(self.paths.partials))

    def termstats(self) -> DataFrame:
        if self._termstats is None:
            with self._init_lock:
                if self._termstats is None:
                    df = self.spark.read.parquet(self.paths.termstats)
                    self._termstats = df.persist() if self._cache else df
        return self._termstats

    def deletes_df(self) -> DataFrame | None:
        """The persisted deletes table as a DataFrame (no collect), or
        None when no deletions exist — the scorer path's ``del`` sidecar
        rows and the docmeta path's anti-join input."""
        if self._deletes is None:
            path = os.path.join(self.paths.root, "deletes")
            if not os.path.isdir(path):
                return None
            self._deletes = self.spark.read.parquet(path).select(
                F.col("doc_id").cast("long").alias("doc_id"))
        return self._deletes

    def deleted_count(self) -> int:
        """Distinct persisted-deletion count (memoized; one tiny
        count job per cold handle)."""
        if self._deleted_count is None:
            df = self.deletes_df()
            self._deleted_count = (0 if df is None
                                   else df.distinct().count())
        return self._deleted_count

    def invalidate_deletes(self) -> None:
        """Drop the memoized live-docs state (called by delete_docs)."""
        self._deletes = None
        self._deleted_count = None

    def _dictionary(self) -> _TermDictionary:
        """The driver-held term dictionary, read with pyarrow from
        ``paths.termstats`` on first use (no Spark job) and kept for the
        handle's lifetime — a handle sees one index generation."""
        if self._dict is None:
            with self._init_lock:
                if self._dict is None:
                    self._dict = _TermDictionary(pq.read_table(
                        self.paths.termstats, columns=["term", "df", "cf"]))
        return self._dict

    def expand_terms(self, q: MultiTermQuery,
                     max_expansions: int = 1024) -> list[str]:
        """Expand a multi-term query against the term DICTIONARY (never
        the postings table) -> the sorted matching terms. Prefix,
        Wildcard, TermRange and TermInSet are a slice of the driver-held
        sorted dictionary (a Wildcard is the slice of its literal prefix,
        filtered by ``match_like``) and run no Spark job. Regexp and
        Fuzzy keep their JVM predicates (Java regex dialect, Spark's
        ``levenshtein``, the Damerau ``pandas_udf``) over the termstats
        table, memoized per handle. The expansion is capped like
        Lucene's maxClauseCount."""
        fk = field_key(q.field, "")  # "" for default field, "name\x1f" else
        if isinstance(q, (Regexp, Fuzzy)):
            terms = self._expand_jvm(q, fk, max_expansions)
        else:
            terms = self._expand_sorted(q, fk)
            if not fk:
                # default-field expansion must not sweep up other fields'
                # qualified keys (they sort between ASCII letters)
                terms = terms.filter(pc.invert(
                    pc.match_substring(terms, FIELD_SEP)))
            terms = terms.to_pylist() if len(terms) <= max_expansions else None
        if terms is None:
            raise ValueError(
                f"{type(q).__name__} expands to more than {max_expansions} "
                "terms (maxClauseCount analog) — narrow the pattern or "
                "raise max_expansions")
        return terms

    def _expand_sorted(self, q: MultiTermQuery, fk: str) -> pa.Array:
        """Prefix / Wildcard / TermRange / TermInSet as rows of the
        sorted dictionary (field prefix included, in term order)."""
        d = self._dictionary()
        if isinstance(q, Prefix):
            return d.slice(*d.prefix(fk + q.prefix))
        if isinstance(q, Wildcard):
            pat = []
            for ch in fk + q.pattern:
                if ch == "*":
                    pat.append("%")
                elif ch == "?":
                    pat.append("_")
                elif ch in ("%", "_", "\\"):
                    pat.append("\\" + ch)
                else:
                    pat.append(ch)
            # the literal prefix before the first wildcard narrows the scan
            lit_prefix = (fk + q.pattern).split("*")[0].split("?")[0]
            cand = d.slice(*d.prefix(lit_prefix))
            return cand.filter(pc.match_like(cand, "".join(pat)))
        if isinstance(q, TermRange):
            lo, hi = d.prefix(fk) if fk else (0, len(d.terms))
            if q.lo is not None:
                lo = max(lo, d.bound(fk + q.lo, False, q.include_lo))
            if q.hi is not None:
                hi = min(hi, d.bound(fk + q.hi, True, q.include_hi))
            return d.slice(lo, hi)
        if isinstance(q, TermInSet):
            rows = {d.find(fk + t) for t in q.in_terms} - {None}
            return d.terms.take(pa.array(sorted(rows), pa.int64()))
        raise TypeError(f"unknown multi-term query {type(q)}")

    def _expand_jvm(self, q: Regexp | Fuzzy, fk: str,
                    max_expansions: int) -> list[str] | None:
        """Regexp / Fuzzy expansion as a Spark job over the termstats
        table (memoized per handle); None when it overflows."""
        import re as _re

        memo_key = (repr(q), max_expansions)
        hit = self._expand_memo.get(memo_key)
        if hit is not None:
            return hit
        term = F.col("term")
        if isinstance(q, Regexp):
            # RegexpQuery anchors to the FULL term (Lucene semantics)
            pred = term.rlike(f"^{_re.escape(fk)}(?:{q.pattern})$")
        else:
            body = term.substr(F.lit(len(fk) + 1), F.length(term)) if fk \
                else term
            pl = int(q.prefix_length or 0)
            if pl:
                # prefixLength: exact shared prefix (a prefix-seek on the
                # sorted dictionary), distance computed on SUFFIXES only
                body = body.substr(F.lit(pl + 1), F.length(body))
                suffix = q.term[pl:]
            else:
                suffix = q.term
            if q.transpositions:
                # JVM prefilter: damerau <= k implies levenshtein <= 2k
                # (a transposition costs at most two plain edits), so the
                # dictionary scan stays pushdown-cheap; the exact
                # Damerau cut runs Arrow-batched on the survivors only.
                pred = F.levenshtein(body, F.lit(suffix)) <= 2 * q.max_edits
            else:
                pred = F.levenshtein(body, F.lit(suffix)) <= q.max_edits
            if pl:
                pred = term.startswith(fk + q.term[:pl]) & pred
            elif fk:
                pred = term.startswith(fk) & pred
        if not fk:
            pred = pred & ~term.contains(FIELD_SEP)
        base = self.termstats().select("term").filter(pred)
        if isinstance(q, Fuzzy) and q.transpositions:
            from pyspark.sql.functions import pandas_udf

            pl = int(q.prefix_length or 0)
            qt, fkl, k = q.term[pl:], len(fk) + pl, q.max_edits

            @pandas_udf("int")
            def _dam(s: pd.Series) -> pd.Series:
                bodies = s.str.slice(fkl) if fkl else s
                return bodies.map(lambda t: _damerau_distance(t, qt))

            base = base.filter(_dam(F.col("term")) <= k)
        rows = base.limit(max_expansions + 1).collect()
        if len(rows) > max_expansions:
            return None
        out = sorted(r["term"] for r in rows)
        self._expand_memo[memo_key] = out
        return out

    def term_stats_for(self, terms: list[str]) -> dict[str, TermStats]:
        """df/cf per term (Lucene TermStates.build): a binary search per
        term in the driver-held dictionary, no Spark job. Terms absent
        from the dictionary are left out of the result."""
        d = self._dictionary()
        out: dict[str, TermStats] = {}
        for t in terms:
            i = d.find(t)
            if i is not None:
                out[t] = TermStats(df=int(d.df[i]), cf=int(d.cf[i]))
        return out


#: typed empty highlights literal (schema-stable across no-hit paths)
_EMPTY_HL = ("CAST(array() AS "
             "array<struct<term:string,positions:array<int>>>)")

HL_SCHEMA = "doc_id long, term string, positions array<int>"
_NO_HL_POSITIONS = "highlighting requires an index built with positions"


def _cell_maker(batch: pa.RecordBatch):
    """The one Arrow -> RangeCell constructor (scorer and highlighter):
    ``make(row)`` returns ``(term, RangeCell)`` for a postings row of
    ``batch``. Byte fields are memoryview slices of the batch's binary
    buffers and block arrays numpy views of its list buffers — nothing
    is copied until a cell decodes."""
    def binary(name):
        col = batch.column(name)
        width = np.int64 if pa.types.is_large_binary(col.type) else np.int32
        _, obuf, dbuf = col.buffers()
        off = np.frombuffer(obuf, width)[
            col.offset:col.offset + len(col) + 1].tolist()
        data = memoryview(dbuf if dbuf is not None else b"")
        valid = col.is_valid().to_numpy(zero_copy_only=False)
        return lambda r: data[off[r]:off[r + 1]] if valid[r] else b""

    def ints(name):
        col = batch.column(name)
        off = col.offsets.to_numpy().tolist()
        vals = col.values.to_numpy()
        return lambda r: vals[off[r]:off[r + 1]]

    terms = batch.column("term").to_pylist()
    doc, tf, norm, pos, pay, bmn = (binary(c) for c in (
        "doc_bytes", "tf_bytes", "norm_bytes", "pos_bytes", "pay_bytes",
        "block_min_norm"))
    last, mtf = ints("block_last"), ints("block_max_tf")

    def make(r: int) -> tuple[str, RangeCell]:
        return terms[r], RangeCell(
            doc_bytes=doc(r), tf_bytes=tf(r), norm_bytes=norm(r),
            block_last=last(r), block_max_tf=mtf(r),
            block_min_norm=np.frombuffer(bmn(r), dtype=np.uint8),
            pos_bytes=pos(r), pay_bytes=pay(r))
    return make


def _positions(index: Index, terms: list[str], docs: DataFrame | None,
               no_positions: str, payloads: bool = False) -> DataFrame:
    """The one positions reader (Lucene's PostingsEnum with POSITIONS /
    PAYLOADS): ``(doc_id, term, positions[, payloads])``, one row per
    (doc, term) in stream order; ``ValueError(no_positions)`` on a cell
    without a position stream. Feeds highlighting (the user surface of
    Solr's HighlightComponent) and the term_positions/payloads readers.

    Shape at scale: term-pruned postings scan, cells decoded in their
    Arrow batch by the scorer's own constructor, no postings shuffle.
    ``docs`` (a doc_id frame, e.g. the <= k winners) restricts the scan
    to their doc-ranges by a broadcast join against one (drange, ids)
    row per range and emits only those docs: O(terms x ranges), not
    corpus-sized.
    """
    cells = index.postings().filter(F.col("term").isin(sorted(set(terms))))
    filtered = docs is not None  # the closure must not capture ``docs``
    if filtered:
        drs = int(index.stats["drange_size"])
        want = (with_drange(docs.select("doc_id"), drs).groupBy("drange")
                .agg(F.collect_list("doc_id").alias("want")))
        cells = cells.join(F.broadcast(want), "drange")

    def emit(batches):
        for b in batches:
            make, parts, names = _cell_maker(b), [], []
            for r in range(b.num_rows):
                term, cell = make(r)
                if not cell.pos_bytes:
                    raise ValueError(no_positions)
                d, tfs = cell.decode()
                p = cell.positions()
                y = cell.payloads() if payloads else p
                if y.size != p.size:
                    raise ValueError(
                        "payload stream misaligned with positions: "
                        f"{y.size} payloads vs {p.size} positions")
                if filtered:
                    keep = np.isin(d, b.column("want")[r].values.to_numpy())
                    occ = np.repeat(keep, tfs)
                    d, tfs, p, y = d[keep], tfs[keep], p[occ], y[occ]
                parts.append((d, tfs, p, y))
                names += [term] * d.size
            d, tfs, p, y = (np.concatenate([np.zeros(0, np.int64)]
                                           + [x[i] for x in parts])
                            for i in range(4))
            off = pa.array(np.concatenate(([0], np.cumsum(tfs))), pa.int32())
            cols = {"doc_id": pa.array(d, pa.int64()),
                    "term": pa.array(names, pa.string()),
                    "positions": pa.ListArray.from_arrays(
                        off, pa.array(p, pa.int32()))}
            if payloads:
                cols["payloads"] = pa.ListArray.from_arrays(
                    off, pa.array(y, pa.int32()))
            yield pa.RecordBatch.from_pydict(cols)

    return cells.mapInArrow(
        emit, HL_SCHEMA + (", payloads array<int>" if payloads else ""))


def _as_query(query: str | Query) -> Query:
    return parse(query) if isinstance(query, str) else rewrite(query)


def _edit_distance(a: str, b: str) -> int:
    """Plain Levenshtein (driver-side, expansion-list-bounded inputs)."""
    if a == b:
        return 0
    if not a or not b:
        return max(len(a), len(b))
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def _damerau_distance(a: str, b: str) -> int:
    """Unrestricted Damerau-Levenshtein (Damerau 1964; the alphabet-array
    DP from Wagner-Fischer's extension — adjacent transposition is one
    edit, and later edits may land between swapped characters). Matches
    DuckDB's ``damerau_levenshtein`` exactly, which is what the oracle
    uses."""
    if a == b:
        return 0
    la, lb = len(a), len(b)
    if not la or not lb:
        return max(la, lb)
    inf = la + lb
    da: dict[str, int] = {}
    d = [[inf] * (lb + 2) for _ in range(la + 2)]
    d[0][0] = inf
    for i in range(la + 1):
        d[i + 1][1] = i
        d[i + 1][0] = inf
    for j in range(lb + 1):
        d[1][j + 1] = j
        d[0][j + 1] = inf
    for i in range(1, la + 1):
        db = 0
        for j in range(1, lb + 1):
            k = da.get(b[j - 1], 0)
            l = db
            if a[i - 1] == b[j - 1]:
                cost = 0
                db = j
            else:
                cost = 1
            d[i + 1][j + 1] = min(
                d[i][j] + cost,            # substitute
                d[i + 1][j] + 1,           # insert
                d[i][j + 1] + 1,           # delete
                d[k][l] + (i - k - 1) + 1 + (j - l - 1))  # transpose
        da[a[i - 1]] = i
    return d[la + 1][lb + 1]


def _expand_top_terms(q: TopTerms, index: Index, cap: int) -> Query:
    """TOP_TERMS_SCORING_BOOLEAN rewrite (pinned spec on query.TopTerms):
    expand the wrapped MultiTermQuery, boost Fuzzy candidates by the
    published FuzzyTermsEnum similarity, keep the best n by
    (boost desc, df desc, term asc), and emit a scoring Or of boosted
    TermQuery clauses in term order."""
    terms = index.expand_terms(q.query, cap)
    if not terms:
        return MatchNoDocs()
    if isinstance(q.query, Fuzzy):
        fk = field_key(q.query.field, "")
        qt = q.query.term

        dist_fn = (_damerau_distance if q.query.transpositions
                   else _edit_distance)

        def fuzz_boost(t: str) -> float:
            body = t[len(fk):] if fk else t
            d = dist_fn(qt, body)
            m = min(len(qt), len(body))
            return 1.0 - d / m if m else (1.0 if d == 0 else 0.0)
        boosts = {t: fuzz_boost(t) for t in terms}
    else:
        boosts = {t: 1.0 for t in terms}
    dfs = {t: s.df for t, s in index.term_stats_for(terms).items()}
    ranked = sorted(terms, key=lambda t: (-boosts[t], -dfs.get(t, 0), t))
    kept = sorted(ranked[:max(q.n, 0)])
    if not kept:
        return MatchNoDocs()
    if q.blended:
        # TOP_TERMS_BLENDED_FREQ_SCORING (Lucene's FuzzyQuery default):
        # every kept term scores with the blended df = max over the kept
        # set (BlendedTermQuery), combined by DisMax(tiebreak=0.01)
        from sparklucene.query import Synonym
        bdf = max(dfs.get(t, 0) for t in kept)
        return rewrite(DisMax(tuple(
            Synonym((t,), boost=q.boost * boosts[t], blend_df=bdf)
            for t in kept), 0.01))
    return rewrite(Or(tuple(Term(t, boost=q.boost * boosts[t])
                            for t in kept)))


def _expand_multiterm(q: Query, index: Index, cap: int) -> Query:
    """Rewrite every MultiTermQuery node into
    ``ConstantScore(Or(expanded terms))`` — Lucene's
    CONSTANT_SCORE_REWRITE — so prefix/wildcard/regexp/fuzzy/range/set
    clauses compose inside any boolean."""
    if isinstance(q, MultiTermQuery):
        terms = index.expand_terms(q, cap)
        if not terms:
            return MatchNoDocs()
        return ConstantScore(Or(tuple(Term(t) for t in terms)), q.boost)
    if isinstance(q, TopTerms):
        return _expand_top_terms(q, index, cap)
    if isinstance(q, (And, Or)):
        clauses = tuple(_expand_multiterm(c, index, cap) for c in q.clauses)
        return rewrite(And(clauses) if isinstance(q, And)
                       else Or(clauses, q.min_should_match))
    if isinstance(q, DisMax):
        return rewrite(DisMax(tuple(_expand_multiterm(c, index, cap)
                                    for c in q.clauses), q.tiebreak))
    if isinstance(q, Not):
        return rewrite(Not(_expand_multiterm(q.positive, index, cap),
                           _expand_multiterm(q.negative, index, cap)))
    if isinstance(q, Filtered):
        return rewrite(Filtered(_expand_multiterm(q.positive, index, cap),
                                _expand_multiterm(q.filter, index, cap)))
    if isinstance(q, ConstantScore):
        return rewrite(ConstantScore(_expand_multiterm(q.child, index, cap),
                                     q.boost))
    return q


def _plan(index: Index, queries: dict, max_expansions: int = 1024,
          stats_override: GlobalStats | None = None
          ) -> tuple[dict[str, Query], dict[str, Query], GlobalStats]:
    """Phases 0-1 for named queries -> ``(live, matchall, gstats)``.

    Every query is parsed, qualified and multi-term expanded; one
    term-stats lookup covers the union of their terms. Unindexed terms
    then prune away (Lucene BooleanWeight null-scorer behavior: AND
    dies, OR drops them) and queries that match nothing are dropped.
    ``MatchAllDocs`` / ``Not(MatchAllDocs, x)`` go to ``matchall`` (the
    docmeta branch), the rest to ``live`` (the range scorer). ``gstats``
    holds the collection statistics the scorer uses; with
    ``stats_override``, local stats fill only the terms it lacks."""
    named = {str(n): _expand_multiterm(qualify(_as_query(q)), index,
                                       max_expansions)
             for n, q in queries.items()}
    tstats = index.term_stats_for(sorted(
        {t for q in named.values() for t in (*q.terms(), *q.neg_terms())}))
    live: dict[str, Query] = {}
    matchall: dict[str, Query] = {}
    for n, q in named.items():
        q = prune_missing(q, set(tstats))
        if isinstance(q, MatchNoDocs):
            continue
        pos = q.positive if isinstance(q, Not) else q
        (matchall if isinstance(pos, MatchAllDocs) else live)[n] = q
    if stats_override is None:
        return live, matchall, GlobalStats(
            doc_count=int(index.stats["doc_count"]),
            sum_dl=int(index.stats["sum_dl"]), term_stats=tstats,
            field_stats=index.stats.get("fields"))
    # terms the override does not know (e.g. per-shard multi-term
    # expansions the merger never saw) fall back to LOCAL stats —
    # mirrors ExactStatsCache, which only merges stats for the terms of
    # the rewritten query it was shown
    return live, matchall, dataclasses.replace(
        stats_override, term_stats={**tstats, **stats_override.term_stats})


#: ranges per scoring task for narrow queries (see _scoring_parts)
_RANGES_PER_TASK = 12


def _scoring_parts(spark, n_ranges: int, est_cells: int) -> int:
    """Width of the scoring shuffle (hash-repartition on drange).

    The scoring unit is the DOC-RANGE (the scorer walks drange runs),
    so partitions beyond ``n_ranges`` are empty — that caps the width.
    Two floors size the rest: ``est_cells/64`` grows the fan-out with
    per-range work (multi-term expansions decode terms x ranges cells),
    and ``n_ranges/_RANGES_PER_TASK`` keeps NARROW queries parallel — a
    single-term query has one cell per range, and cells/64 alone would
    score the whole index in one serial task (measured +40 % p50 on the
    sf0.1x40 headline suite). Both are capped by 4x the session cores,
    the same ceiling the session shuffle knob uses, so huge corpora
    still fan out to thousands of cells per task instead of thousands
    of tasks per query.
    """
    return max(1, min(spark.sparkContext.defaultParallelism * 4,
                      n_ranges,
                      max(-(-n_ranges // _RANGES_PER_TASK),
                          -(-est_cells // 64))))


#: sidecar row kinds on the scoring stream: deleted / filter-allowed docs
_SIDES = ("del", "allow")
_NO_DOCS = np.empty(0, np.int64)

_BATCH_ARROW = pa.schema([("query", pa.string()), ("doc_id", pa.int64()),
                          ("score", pa.float64())])


def _ranges(batches):
    """Walk a drange-sorted Arrow stream (see :func:`_score_plan`) and
    yield ``(cells, sides)`` once per contiguous drange: ``cells`` maps
    term -> RangeCell, ``sides`` maps each sidecar kind to a list of
    int64 doc-id arrays (ids may repeat)."""
    cur, cells, parts = None, {}, {k: [_NO_DOCS] for k in _SIDES}
    for b in batches:
        if not b.num_rows:
            continue
        dr = b.column("drange").to_numpy()
        make = _cell_maker(b)
        if "side" in b.schema.names:
            side = b.column("side")
            doc = b.column("doc_id").fill_null(0).to_numpy()
            kind = {k: pc.fill_null(pc.equal(side, k), False).to_numpy(
                zero_copy_only=False) for k in _SIDES}
            is_cell = side.is_null().to_numpy(zero_copy_only=False)
        else:
            kind, is_cell = {}, np.ones(b.num_rows, dtype=bool)
        cuts = (np.flatnonzero(np.diff(dr)) + 1).tolist()
        for lo, hi in zip([0] + cuts, cuts + [b.num_rows]):
            if dr[lo] != cur:
                if cur is not None:
                    yield cells, parts
                cur, cells, parts = dr[lo], {}, {k: [_NO_DOCS] for k in _SIDES}
            for r in np.flatnonzero(is_cell[lo:hi]).tolist():
                term, cell = make(lo + r)
                cells[term] = cell
            for k, m in kind.items():
                parts[k].append(doc[lo:hi][m[lo:hi]])
    if cur is not None:
        yield cells, parts


def _score_plan(index: Index, named: dict[str, Query], k: int | None,
                mode, prune: bool, gstats: GlobalStats, afters: dict,
                exclude_docs: list[int] | None = None,
                doc_filter: DataFrame | None = None) -> DataFrame:
    """The scoring plan of :func:`search` and :func:`search_batch` ->
    DataFrame(query, doc_id, score): each named query's per-range top-k
    (every match when ``k`` is None). One term-pruned postings scan
    carries the union of the queries' terms; persisted deletes and the
    ``doc_filter`` include-set join it as sidecar rows (drange, doc_id,
    side) keyed by the same doc-range expression, so each range scorer
    sees exactly its own slice and nothing is collected or broadcast.
    One drange Exchange feeds one Arrow scorer that scores every query
    against the range's shared cells (decode memoizes per cell)."""
    spark = index.spark
    terms = sorted({t for q in named.values()
                    for t in set(q.terms()) | set(q.neg_terms())})
    drs = int(index.stats["drange_size"])
    n_ranges = max(1, -(-int(index.stats["n_docs"]) // drs))
    nparts = _scoring_parts(spark, n_ranges, n_ranges * max(1, len(terms)))
    stream = index.postings().filter(F.col("term").isin(terms))
    for side, docs in (("del", index.deletes_df()), ("allow", doc_filter)):
        if docs is not None:
            rows = with_drange(docs.select(
                F.col("doc_id").cast("long").alias("doc_id")), drs)
            stream = stream.unionByName(
                rows.withColumn("side", F.lit(side)),
                allowMissingColumns=True)
    extra = np.asarray(sorted({int(d) for d in exclude_docs or ()}), np.int64)
    filtered = doc_filter is not None
    kk = k if k is not None else (1 << 31)
    qitems = sorted(named.items())

    def score(batches):
        for cells, sides in _ranges(batches):
            if not cells:
                continue
            deleted = np.unique(np.concatenate([extra, *sides["del"]]))
            # a filtered range without allow rows admits nothing
            allowed = (np.unique(np.concatenate(sides["allow"]))
                       if filtered else None)
            for n, q in qitems:
                scorer = RangeScorer(cells, gstats, mode=mode, prune=prune,
                                     deleted=deleted, allowed=allowed)
                d, sc = scorer.topk(q, kk, after=afters.get(n))
                yield pa.RecordBatch.from_arrays(
                    [pa.repeat(pa.scalar(n), d.size),
                     pa.array(d.astype(np.int64)),
                     pa.array(sc.astype(np.float64))], schema=_BATCH_ARROW)

    return (stream.repartition(nparts, "drange")
            .sortWithinPartitions("drange")
            .mapInArrow(score, BATCH_SCHEMA))


def search(index: Index, query: str | Query, k: int | None = 10,
           mode: str = "lucene8", prune: bool = True,
           hydrate: DataFrame | None = None,
           exclude_docs: list[int] | None = None,
           after: tuple[float, int] | None = None,
           max_expansions: int = 1024,
           highlight: bool = False,
           stats_override: "GlobalStats | None" = None,
           doc_filter: DataFrame | None = None) -> DataFrame:
    """Top-k BM25 search -> DataFrame(doc_id, score [, corpus cols]).

    ``score`` is the float32 engine score widened to double (exact).
    ``hydrate`` joins winners back to a corpus DataFrame (two-phase plan).
    ``k=None`` returns the complete (unordered) match set — the
    ExportWriter / TotalHitCountCollector access path.
    ``exclude_docs`` are live-docs deletions (Lucene's per-segment deleted
    bitset): masked out inside each range scorer BEFORE any top-k heap, so
    deleted docs can never shadow live results. Deletions persisted via
    :func:`delete_docs` are applied automatically (they ride the postings
    stream per doc-range, never collected).
    ``after`` is a (score, doc_id) keyset cursor — each range collects
    only hits strictly after it and stays k-bounded (searchAfter).
    ``stats_override`` replaces the index-derived collection statistics
    (doc_count / sum_dl / per-term df, cf) used for SCORING — matching
    (term presence, pruning of locally-missing terms) still follows this
    index. This is the Solr ExactStatsCache hook
    (u8:solr/core/.../search/stats/ExactStatsCache.java): a routed
    fan-out merges per-shard stats once and every shard scores with the
    GLOBAL statistics, so distributed ranking equals single-index
    ranking. MAXSCORE/WAND bounds derive from the same override, so
    pruning stays score-safe.
    ``highlight=True`` (requires bounded ``k``) adds a ``highlights``
    column — array<struct<term, positions>> of the matched default-field
    terms' token positions in each winner, decoded in a second k-bounded
    round (Solr HighlightComponent's user surface); with ``hydrate`` a
    ``snippet`` column (token window around the first match) is added too.
    ``doc_filter`` is a doc-id INCLUDE set (one ``doc_id`` column) — only
    these docs may match, scores unchanged (Lucene filter context /
    Solr ``fq={!frange}``; see :func:`frange_docs`). It rides the
    postings stream per doc-range — never collected or broadcast — so the
    filter may be arbitrarily large (the FunctionRangeQuery doc set IS
    data-proportional). Pruning stays exact: filtering only removes
    candidates, so block upper bounds remain upper bounds.
    """
    from sparklucene.plugins import resolve_mode

    spark = index.spark
    mode = resolve_mode(mode)
    if highlight and k is None:
        raise ValueError("highlight requires a bounded k (the positions "
                         "round is k-bounded by design)")
    live, matchall, gstats = _plan(index, {"q": query}, max_expansions,
                                   stats_override)
    if live:
        out = _score_plan(
            index, live, k, mode, prune, gstats,
            {"q": after} if after is not None else {},
            exclude_docs, doc_filter).select("doc_id", "score")
        if k is None:
            return _hydrate(out, hydrate)
        out = out.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
    elif matchall:
        out = _matchall_search(index, matchall["q"], k, mode, exclude_docs,
                               after, doc_filter)
    else:
        # built only here: createDataFrame costs ~20 ms of driver planning
        out = spark.createDataFrame([], RESULT_SCHEMA)
    hterms = sorted({t for q in live.values() for t in q.terms()
                     if FIELD_SEP not in t})
    if highlight and hterms:
        hl = _positions(index, hterms, out, _NO_HL_POSITIONS)
        agg = (hl.groupBy("doc_id")
               .agg(F.array_sort(F.collect_list(
                   F.struct("term", "positions"))).alias("highlights")))
        out = (out.join(agg, "doc_id", "left")
               .withColumn("highlights",
                           F.coalesce(F.col("highlights"), F.expr(_EMPTY_HL))))
    elif highlight:  # no hits, MatchAll, or no default-field terms
        out = out.withColumn("highlights", F.expr(_EMPTY_HL))
    return _hydrate(out, hydrate)


def highlight_passages(index: Index, query: "str | Query", k: int = 10,
                       window: int = 16, n_passages: int = 2,
                       mode: str = "f64") -> DataFrame:
    """Ranked multi-passage snippets — the UnifiedHighlighter surface
    (Solr ``hl.snippets>1``; public behavior: u8:lucene/highlighter/
    .../uhighlight/UnifiedHighlighter.java + PassageScorer.java).

    Pinned engine spec (the corpus has no sentence breaks, so passages
    are fixed tilings rather than BreakIterator sentences): passages =
    non-overlapping windows of ``window`` token positions starting at
    ``floor(pos / window) * window``; passage score = sum over matched
    occurrences of the term's BM25 idf (PassageScorer's weight without
    length normalization), computed f64 and rounded to f32 BEFORE
    ranking; top ``n_passages`` per winner doc by (score desc, window
    start asc). Returns (doc_id, window_start, n_matches,
    passage_score).

    Shape at scale: reuses the two-phase highlight plan — positions
    decode only for the <= k winners' ranges, then a k-bounded explode /
    window / row_number; nothing corpus-proportional.
    """
    from sparklucene.bm25 import idf as _bm25_idf
    topk = search(index, query, k=k, mode=mode)
    # the search above planned the same query: term stats and expansions
    # come from the handle's dictionary (Regexp / Fuzzy from its memo),
    # so this re-plan runs no Spark job
    live, _, gstats = _plan(index, {"q": query})
    hterms = sorted({t for q in live.values() for t in q.terms()
                     if FIELD_SEP not in t})
    if not hterms:
        return index.spark.createDataFrame(
            [], "doc_id long, window_start long, n_matches long, "
                "passage_score double")
    n, ts = gstats.doc_count, gstats.term_stats
    wmap = F.create_map(*[x for t in hterms
                          for x in (F.lit(t), F.lit(_bm25_idf(ts[t].df, n)))])
    hl = _positions(index, hterms, topk, _NO_HL_POSITIONS)
    occ = (hl.select("doc_id", "term",
                     F.explode("positions").alias("pos"))
           .withColumn("w", wmap[F.col("term")]))
    win = (F.floor(F.col("pos") / F.lit(window)) * window).cast("long")
    pas = (occ.groupBy("doc_id", win.alias("window_start"))
           .agg(F.count("*").cast("long").alias("n_matches"),
                F.sum("w").cast("float").cast("double")
                .alias("passage_score")))
    rk = F.row_number().over(
        Window.partitionBy("doc_id").orderBy(F.desc("passage_score"),
                                             F.asc("window_start")))
    return (pas.withColumn("rk", rk)
            .filter(F.col("rk") <= n_passages).drop("rk")
            .orderBy("doc_id", F.desc("passage_score"), "window_start"))


def edismax_query(text: str, qf: dict[str, float], tie: float = 0.0,
                  op: str = "or", msm: int = 1,
                  pf: dict[str, float] | None = None, pf_tie: float = 0.0,
                  pf_slop: int = 0,
                  pf2: dict[str, float] | None = None, pf2_slop: int = 0,
                  pf3: dict[str, float] | None = None,
                  pf3_slop: int = 0) -> Query:
    """ExtendedDismaxQParser's core query shape (Solr ``defType=edismax``,
    public behavior): analyze the user text, turn EACH term into a
    DisjunctionMax over the ``qf`` fields with boosts
    (``qf="content^1 path^2"`` -> ``{"content": 1.0, "path": 2.0}``),
    then combine terms with ``q.op`` (or + minimumShouldMatch / and).

    ``pf`` (phrase fields, ``pf="content^2"``) adds edismax's implicit
    phrase boost (u8:solr/core/.../search/ExtendedDismaxQParser.java
    addShingledPhraseQueries): the WHOLE analyzed query text as one
    phrase per pf field (stopword position gaps preserved, ``pf_slop``
    -> phrase slop), the per-field phrases combined in a DisjunctionMax
    with ``pf_tie``, attached as a score-only SHOULD clause — matching
    still requires the main query alone (``Filtered(Or((main, pfq)),
    main)``, the MUST(main)+SHOULD(phrase) BooleanQuery shape). A
    one-token query has no phrase, so pf is a no-op (Solr behavior).

    ``pf2``/``pf3`` are edismax's SHINGLED phrase boosts (the same
    addShingledPhraseQueries with wordGrams=2/3): every adjacent pair /
    triple of surviving query terms becomes its own boosted phrase
    clause (``pf2_slop``/``pf3_slop`` = Solr ps2/ps3). Pinned position
    spec, consistent with pf: each shingle keeps the member tokens'
    ORIGINAL pre-stop positions rebased to its first member, so a
    stopword between two query words survives as a gap inside the
    shingle too. Per shingle the per-field phrases combine in a DisMax
    with ``pf_tie``; every shingle is a separate score-only SHOULD
    clause."""
    import re as _re

    from sparklucene.analysis import ENGLISH_STOP_WORDS, tokenize_text
    from sparklucene.query import Phrase

    toks = tokenize_text(text)
    clauses: list[Query] = []
    for t in toks:
        per_field = tuple(Term(t, boost=b, field=f)
                          for f, b in sorted(qf.items()))
        clauses.append(DisMax(per_field, tie) if len(per_field) > 1
                       else per_field[0])
    if not clauses:
        return MatchNoDocs()
    main = rewrite(And(tuple(clauses)) if op == "and"
                   else Or(tuple(clauses), msm))
    if not pf and not pf2 and not pf3:
        return main
    slots = tuple(
        (i, t) for i, t in enumerate(
            _re.findall(r"[a-z0-9_]+", text.lower()))
        if t not in ENGLISH_STOP_WORDS)
    boost_clauses: list[Query] = []
    if pf and len(slots) >= 2:
        phrases = tuple(Phrase(slots, slop=pf_slop, field=f, boost=b)
                        for f, b in sorted(pf.items()))
        boost_clauses.append(DisMax(phrases, pf_tie)
                             if len(phrases) > 1 else phrases[0])
    for pfd, size, slop_n in ((pf2, 2, pf2_slop), (pf3, 3, pf3_slop)):
        if not pfd or len(slots) < size:
            continue
        for j in range(len(slots) - size + 1):
            grp = slots[j:j + size]
            base = grp[0][0]
            rebased = tuple((p - base, t) for p, t in grp)
            phrases = tuple(Phrase(rebased, slop=slop_n, field=f, boost=b)
                            for f, b in sorted(pfd.items()))
            boost_clauses.append(DisMax(phrases, pf_tie)
                                 if len(phrases) > 1 else phrases[0])
    if not boost_clauses:
        return main
    return rewrite(Filtered(Or((main, *boost_clauses)), main))


def common_terms_query(index: Index, terms: list[str],
                       max_doc_freq: float = 0.01) -> Query:
    """CommonTermsQuery (u8:lucene/queries/.../CommonTermsQuery.java,
    ~350 LoC): split the terms by document frequency at plan time and
    demote the "common" (high-df) ones from required to optional —
    a stopword filter computed from the live index instead of a fixed
    list.

    Pinned spec (matching Lucene's defaults lowFreqOccur=MUST,
    highFreqOccur=SHOULD):
      * cutoff = ``max_doc_freq`` docs if > 1, else
        ``max_doc_freq * doc_count`` (Lucene's dual absolute/ratio knob);
      * low group (df < cutoff, including terms absent from the
        dictionary — a required absent term matches nothing, the
        TermQuery-null-scorer behavior prune_missing pins): ALL required;
      * high group: optional, but every matched high term still adds its
        BM25 contribution to the score;
      * both groups non-empty  -> Filtered(Or(all terms), And(low)) —
        the filter enforces the MUST group without double-scoring it;
      * no high terms -> And(low);  no low terms -> Or(high, msm=1)
        (Lucene falls back to plain boolean over the one group).

    Plan shape: one binary search in the driver-held dictionary per
    distinct term (no Spark job); the resulting query runs the normal
    MAXSCORE path — no new scorer machinery.
    """
    uniq = sorted(set(terms))
    if not uniq:
        return MatchNoDocs()
    stats = index.term_stats_for(uniq)
    n = int(index.stats["doc_count"])
    cutoff = max_doc_freq if max_doc_freq > 1 else max_doc_freq * n
    low = tuple(Term(t) for t in uniq
                if t not in stats or stats[t].df < cutoff)
    high = tuple(Term(t) for t in uniq
                 if t in stats and stats[t].df >= cutoff)
    if not high:
        return rewrite(And(low))
    if not low:
        return rewrite(Or(high, 1))
    return rewrite(Filtered(Or(low + high, 1), And(low)))


def _matchall_search(index: Index, q: Query, k: int | None, mode: str,
                     exclude_docs: list[int] | None,
                     after: tuple[float, int] | None,
                     doc_filter: DataFrame | None = None) -> DataFrame:
    """MatchAllDocsQuery execution: the doc universe comes from the
    docmeta table (the scorer only ever sees postings for query terms).
    Handles ``MatchAllDocs`` and ``Not(MatchAllDocs, neg)`` — deletions
    and the negative set are removed by anti-join, score is the constant
    float32 boost (similarity is not consulted — public Lucene
    MatchAllDocsQuery behavior)."""
    spark = index.spark
    if isinstance(q, Not):
        ma, neg = q.positive, q.negative
    else:
        ma, neg = q, None
    score = float(np.float32(ma.boost))
    base = (index.docmeta().select("doc_id")
            .withColumn("score", F.lit(score).cast("double")))
    if doc_filter is not None:
        # q=*:* fq={!frange ...}: the result IS the filtered doc set
        base = base.join(
            doc_filter.select(F.col("doc_id").cast("long").alias("doc_id")),
            "doc_id", "left_semi")
    if index.deletes_df() is not None:  # anti-join, never collected
        base = base.join(index.deletes_df(), "doc_id", "left_anti")
    if exclude_docs:
        base = base.join(spark.createDataFrame(
            [(int(d),) for d in set(exclude_docs)], "doc_id long"),
            "doc_id", "left_anti")
    if neg is not None:
        base = base.join(matches(index, neg, mode=mode).select("doc_id"),
                         "doc_id", "left_anti")
    if after is not None:
        a_s, a_d = float(after[0]), int(after[1])
        base = base.filter((F.col("score") < F.lit(a_s))
                           | ((F.col("score") == F.lit(a_s))
                              & (F.col("doc_id") > F.lit(a_d))))
    if k is None:
        return base
    return base.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def boost_by(index: Index, query: str | Query, attrs: DataFrame,
             factor, k: int = 10, mode: str = "lucene8",
             default: float = 0.0) -> DataFrame:
    """BoostQParser / FunctionScoreQuery over a stored doc attribute
    (public knowledge: ``u8:solr/core/.../search/BoostQParserPlugin.java``,
    ``u8:lucene/queries/.../function/FunctionScoreQuery.java``, and the
    ExternalFileField use-case ``u8:solr/core/.../schema/
    ExternalFileField.java``): final score = query score × function
    value, where the function is any Catalyst expression over ``attrs``
    (keyed by doc_id). Docs missing from ``attrs`` take ``default``
    (ExternalFileField's defVal).

    Scale shape: the full match set stays distributed (an arbitrary
    multiplier breaks impact monotonicity, so WAND cannot prune — the
    reference's FunctionScoreQuery pays the same exhaustive cost); the
    factor join is keyed by doc_id and the final top-k is a
    TakeOrderedAndProject, never a global sort.
    """
    col = F.expr(factor) if isinstance(factor, str) else factor
    hits = matches(index, query, mode=mode)
    fac = attrs.select(F.col("doc_id").cast("long").alias("doc_id"),
                       col.cast("double").alias("_boost_f"))
    return (hits.join(fac, "doc_id", "left")
            .select("doc_id",
                    (F.col("score")
                     * F.coalesce(F.col("_boost_f"),
                                  F.lit(float(default)))).alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id")).limit(k))


def complex_phrase(index: Index, slots, field: str | None = None,
                   max_expansions: int = 128):
    """ComplexPhraseQueryParser's core shape (public knowledge:
    ``u8:lucene/queryparser/.../complexPhrase/ComplexPhraseQueryParser.java``
    — phrases whose positions hold wildcard/prefix/fuzzy sub-queries,
    e.g. ``"merge jo*"``): each multi-term slot expands against the term
    DICTIONARY (never the postings) and the result is a MultiPhraseQuery,
    matching Lucene's rewrite of the embedded multi-term queries into
    per-position alternative sets.

    ``slots`` is a sequence of ``str`` (literal term) or ``MultiTermQuery``
    (Prefix/Wildcard/Fuzzy/...), one per consecutive position. Expansion
    is capped at ``max_expansions`` per slot (maxClauseCount analog); a
    slot with zero dictionary matches yields MatchNoDocs — a phrase
    position that can never be filled matches nothing, exactly Lucene's
    empty-rewrite behavior. Alternatives are sorted per slot so the
    summed-idf phrase weight is order-pinned.

    Scale shape: slot expansion reads the term dictionary (see
    ``Index.expand_terms``); the search itself runs the MultiPhrase
    positional plan — postings touched only for the expanded terms.
    """
    from sparklucene.query import (MatchNoDocs, MultiPhrase,
                                   MultiTermQuery as MTQ)

    out = []
    for pos, s in enumerate(slots):
        if isinstance(s, str):
            alts: tuple = (s,)
        elif isinstance(s, MTQ):
            import dataclasses as _dc
            node = (_dc.replace(s, field=field)
                    if field is not None and s.field is None else s)
            exp = index.expand_terms(node, max_expansions=max_expansions)
            if field is not None:
                # expand_terms returns internal field keys; MultiPhrase
                # re-qualifies, so strip back to bare terms
                from sparklucene.query import field_key
                pre = field_key(field, "")
                exp = [t[len(pre):] if t.startswith(pre) else t for t in exp]
            if not exp:
                return MatchNoDocs()
            alts = tuple(sorted(exp))
        else:
            raise TypeError(f"slot {pos}: expected str or MultiTermQuery, "
                            f"got {type(s).__name__}")
        out.append((pos, alts))
    return MultiPhrase(tuple(out), field=field)


def span_multi_term(index: Index, q, field: str | None = None,
                    max_expansions: int = 128):
    """SpanMultiTermQueryWrapper (public knowledge: ``u8:lucene/core/
    .../search/spans/SpanMultiTermQueryWrapper.java`` with its
    SpanRewriteMethod): rewrite a multi-term query (Prefix / Wildcard /
    Regexp / Fuzzy / TermRange / TermInSet) into a span OR over the
    dictionary expansions, so wildcards compose inside any span tree —
    ``SpanNear(SpanTerm("merge"), span_multi_term(idx, Wildcard("jo*")))``
    is Lucene's "phrase with a wildcard position" via spans.

    Returns a ``spans.SpanNode`` (``SpanOrNode`` of ``SpanTerm``s in
    sorted term order; a single expansion collapses to the bare
    ``SpanTerm``), or ``None`` when nothing in the dictionary matches —
    a span position that can never be filled matches nothing, exactly
    Lucene's empty-rewrite behavior (callers turn None into
    MatchNoDocs).

    Scoring follows the engine's pinned span spec: every expanded term
    becomes an include-side leaf, so the span weight is the summed idf
    over the expansions (pre-order dedup) — the analog of Lucene scoring
    the rewritten SpanOr through SpanWeight.

    Scale shape: expansion reads the term dictionary (see
    ``Index.expand_terms``), capped at ``max_expansions``;
    postings are touched only for the expanded terms, inside the
    ordinary per-range span matcher — no extra shuffle.
    """
    from sparklucene.spans import SpanOrNode, SpanTerm

    node = q
    if field is not None and getattr(q, "field", None) is None:
        import dataclasses as _dc
        node = _dc.replace(q, field=field)
    exp = index.expand_terms(node, max_expansions=max_expansions)
    if field is not None:
        # expand_terms returns internal field keys; query.Span(field=...)
        # re-qualifies at rewrite, so strip back to bare terms
        pre = field_key(field, "")
        exp = [t[len(pre):] if t.startswith(pre) else t for t in exp]
    if not exp:
        return None
    if len(exp) == 1:
        return SpanTerm(exp[0])
    return SpanOrNode(tuple(SpanTerm(t) for t in sorted(exp)))


def feature_query(index: Index, query: str | Query, attrs: DataFrame,
                  feature, kind: str = "saturation", weight: float = 1.0,
                  pivot: float = 1.0, exponent: float = 1.0,
                  k: int = 10, mode: str = "lucene8") -> DataFrame:
    """FeatureField static-rank query (public knowledge:
    ``u8:lucene/core/.../document/FeatureField.java`` —
    ``newLogQuery`` / ``newSaturationQuery`` / ``newSigmoidQuery``): a
    per-document static signal (pagerank, stars, recency) contributes an
    ADDITIVE score clause, the SHOULD-combination Lucene documents for
    FeatureField (feature query ORed with the text query so final score
    = BM25 + weight·fn(feature)):

    - ``log``:        weight · log(1 + feature)   (scalingFactor 1)
    - ``saturation``: weight · feature / (feature + pivot)
    - ``sigmoid``:    weight · feature^a / (feature^a + pivot^a)

    Features are clamped to ≥ 0 (FeatureField requires positive values);
    docs missing from ``attrs`` contribute 0, matching a document that
    never indexed the feature.

    Scale shape: the match set stays distributed; the feature join is a
    doc_id equi-join against a narrow attrs projection, the final top-k
    a TakeOrderedAndProject. Like FunctionScoreQuery, the additive
    clause breaks impact monotonicity, so scoring is exhaustive over the
    match set — the reference pays the same unless it rebuilds impacts
    for the feature field.
    """
    col = F.expr(feature) if isinstance(feature, str) else feature
    f = F.greatest(col.cast("double"), F.lit(0.0))
    if kind == "log":
        fn = F.log(F.lit(1.0) + f)
    elif kind == "saturation":
        fn = f / (f + F.lit(float(pivot)))
    elif kind == "sigmoid":
        fa = F.pow(f, F.lit(float(exponent)))
        fn = fa / (fa + F.pow(F.lit(float(pivot)), F.lit(float(exponent))))
    else:
        raise ValueError(f"unknown feature function: {kind!r}")
    hits = matches(index, query, mode=mode)
    feat = attrs.select(F.col("doc_id").cast("long").alias("doc_id"),
                        (F.lit(float(weight)) * fn).alias("_feat"))
    return (hits.join(feat, "doc_id", "left")
            .select("doc_id",
                    (F.col("score")
                     + F.coalesce(F.col("_feat"), F.lit(0.0)))
                    .alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id")).limit(k))


def frange_docs(attrs: DataFrame, value, lower: float | None = None,
                upper: float | None = None, incl: bool = True,
                incu: bool = True) -> DataFrame:
    """FunctionRangeQuery doc-set builder (public knowledge:
    ``u8:solr/core/.../search/function/FunctionRangeQuery.java``, the
    ``{!frange l= u= incl= incu=}func`` qparser): docs whose FUNCTION
    value (any Catalyst expression over a doc-attribute relation) lies in
    [l, u], bounds inclusive per ``incl``/``incu``, either bound
    optional. Returns the doc_id set to pass as ``search(doc_filter=)``
    — filter context, so scores are unaffected (matching the reference's
    non-scoring fq semantics).

    Scale shape: one narrow filter over the attribute relation — the
    predicate pushes into the attrs scan; the set then rides the postings
    stream per doc-range, never collected.
    """
    col = F.expr(value) if isinstance(value, str) else value
    conds = []
    if lower is not None:
        conds.append(col >= F.lit(lower) if incl else col > F.lit(lower))
    if upper is not None:
        conds.append(col <= F.lit(upper) if incu else col < F.lit(upper))
    out = attrs
    for c in conds:
        out = out.filter(c)
    return out.select("doc_id")


def search_batch(index: Index, queries, k: int = 10,
                 mode: str = "lucene8", prune: bool = True,
                 max_expansions: int = 1024,
                 afters: dict | None = None) -> DataFrame:
    """Execute MANY queries in ONE Spark action — the reference-query-set
    / high-QPS serving path (Solr handles query sets as concurrent
    requests; the Spark-native form is batch execution).

    ``queries`` is a dict name -> (str | Query) or a list (named by
    index). One postings scan covers the UNION of all query terms, one
    shuffle groups cells by doc-range, and every query is scored inside
    the same Arrow batch against SHARED decoded cells (RangeCell decode
    memoizes, so a posting list used by five queries is decoded once).
    MatchAllDocs queries (standalone or ``Not(MatchAllDocs, x)``) route
    to the zero-shuffle docmeta branch of the same plan and union in.
    ``afters`` maps query name -> (score, doc_id) keyset cursor, applied
    inside the range scorers exactly like ``search_after``.
    Returns DataFrame(query, doc_id, score): per-query top-k, ordered by
    (score desc, doc_id asc) within each query. Amortization: per-query
    latency becomes (one action) / N instead of N jobs.
    """
    from sparklucene.plugins import resolve_mode

    spark = index.spark
    mode = resolve_mode(mode)
    if not isinstance(queries, dict):
        queries = {f"q{i}": q for i, q in enumerate(queries)}
    afters = {str(n): (float(a[0]), int(a[1]))
              for n, a in (afters or {}).items()}
    unknown = set(afters) - {str(n) for n in queries}
    if unknown:
        raise ValueError(f"afters for unknown queries: {sorted(unknown)}")
    live, matchall, gstats = _plan(index, queries, max_expansions)
    ma_parts = [
        _matchall_search(index, q, k, mode, None, afters.get(n))
        .select(F.lit(n).alias("query"), "doc_id", "score")
        for n, q in sorted(matchall.items())]
    ma_df = ma_parts[0] if ma_parts else None
    for p in ma_parts[1:]:
        ma_df = ma_df.unionByName(p)
    if not live:
        return (ma_df if ma_df is not None
                else spark.createDataFrame([], BATCH_SCHEMA))
    candidates = _score_plan(index, live, k, mode, prune, gstats, afters)
    w = Window.partitionBy("query").orderBy(F.desc("score"),
                                            F.asc("doc_id"))
    scored = (candidates.withColumn("rn", F.row_number().over(w))
              .filter(F.col("rn") <= k).drop("rn"))
    return scored.unionByName(ma_df) if ma_df is not None else scored


def delete_docs(index: Index, doc_ids: list[int]) -> int:
    """Persist deletions (delete = hide-at-search; reinsert = delete +
    stream the new version via streaming.py — the reference's
    delete+reinsert update model). Returns total deleted count.

    Append-only: each call adds one file and never rewrites or removes
    an existing one, so another open handle that already listed the
    deletes keeps reading them. Duplicates are harmless — every reader
    dedupes via union1d / distinct / anti-join."""
    path = os.path.join(index.paths.root, "deletes")
    new = sorted({int(d) for d in doc_ids})
    (index.spark.createDataFrame([(d,) for d in new], "doc_id long")
     .coalesce(1).write.mode("append").parquet(path))
    index.invalidate_deletes()
    return index.deleted_count()


def delete_by_query(index: Index, query: "str | Query",
                    mode: str = "lucene8") -> int:
    """Solr ``deleteByQuery``: hide every document matching ``query``
    (public behavior: u8:solr/core/.../update/DirectUpdateHandler2.java
    deleteByQuery — the reference also resolves the query to a doc set
    and masks it from searchers until merge reclaims the docs).

    The match set is appended to the deletes relation AS A DATAFRAME —
    never collected to the driver, so a query matching billions of docs
    costs one distributed write; duplicate ids across calls are harmless
    (every reader dedupes, same contract as :func:`delete_docs`).
    Returns the total deleted count."""
    m = matches(index, query, mode=mode).select("doc_id")
    path = os.path.join(index.paths.root, "deletes")
    m.write.mode("append").parquet(path)
    index.invalidate_deletes()
    return index.deleted_count()


def matches(index: Index, query: str | Query, mode: str = "lucene8"
            ) -> DataFrame:
    """Complete scored match set (unordered) — ExportWriter access path."""
    return search(index, query, k=None, mode=mode, prune=False)


def total_hits(index: Index, query: str | Query, mode: str = "lucene8"
               ) -> DataFrame:
    """Exact hit count — TotalHitCountCollector (no threshold shortcut)."""
    return matches(index, query, mode).agg(F.count("*").alias("total_hits"))


def search_after(index: Index, query: str | Query, k: int,
                 after: tuple[float, int], mode: str = "lucene8",
                 prune: bool = True) -> DataFrame:
    """CursorMark deep paging: next k results strictly after the
    (score, doc_id) sort key — stateless keyset cursor evaluated INSIDE
    each range scorer (searchAfter / CursorMark public behavior): local
    heaps stay k-bounded and single-term block-max pruning still applies,
    so page 2 never materializes or shuffles the full match set."""
    return search(index, query, k=k, mode=mode, prune=prune,
                  after=(float(after[0]), int(after[1])))


def cursor_by_fields(df: DataFrame, sort: tuple[tuple[str, str], ...],
                     after: tuple | None, k: int) -> DataFrame:
    """Solr CursorMark over an arbitrary field sort
    (u8:solr/solrj/.../params/CursorMarkParams.java public behavior,
    generalizing :func:`search_after`'s (score, doc_id) special case):
    keyset pagination where the cursor is the previous page's last
    sort-key tuple and the next page filters strictly-after rows
    (lexicographic in the sort spec) BEFORE the top-k.

    ``sort`` is ``(("lang", "asc"), ("n_chars", "desc"), ("doc_id",
    "asc"))`` — like Solr, the spec must end with the unique id so the
    order is total and the cursor never skips or repeats. ``after=None``
    returns page 1. Cursor values must be non-null (sort fields with
    missing values need the sortMissing mapping first).

    Scale shape — the reason cursorMark exists: the strictly-after
    predicate is a plain column comparison pushed into the scan, and the
    page is one TakeOrderedAndProject over survivors, so page N costs
    the same as page 1 (no OFFSET re-scan, no server-held state; the
    deep-export path for result sets a driver cannot hold).
    """
    if not sort or sort[-1][1] not in ("asc", "desc"):
        raise ValueError("sort spec must be ((col, 'asc'|'desc'), ...)")
    order = [F.asc(c) if d == "asc" else F.desc(c) for c, d in sort]
    out = df
    if after is not None:
        if len(after) != len(sort):
            raise ValueError("cursor arity != sort arity")
        pred = None
        for i, (col, direction) in enumerate(sort):
            strict = (F.col(col) > F.lit(after[i]) if direction == "asc"
                      else F.col(col) < F.lit(after[i]))
            for j in range(i):
                strict = strict & (F.col(sort[j][0]) == F.lit(after[j]))
            pred = strict if pred is None else (pred | strict)
        out = out.filter(pred)
    return out.orderBy(*order).limit(int(k))


def rerank(index: Index, main_query: "str | Query",
           rerank_query: "str | Query", k: int = 10, rerank_docs: int = 50,
           weight: float = 2.0, mode: str = "lucene8",
           prune: bool = True) -> DataFrame:
    """Two-pass re-ranking — Solr ReRankQParserPlugin semantics (public
    surface ``q={!rerank reRankQuery=$rq reRankDocs=N reRankWeight=w}``;
    u8:solr/core/src/java/org/apache/solr/search/ReRankQParserPlugin.java):
    the main query's top ``rerank_docs`` hits are rescored as
    ``main_score + weight * rerank_score`` where they ALSO match the
    rerank query (non-matching hits keep their main score), and the top
    ``k`` of the combined order (score desc, doc_id asc) are returned.

    Plan shape: pass 1 is the ordinary two-phase top-k (k-bounded); pass
    2 runs the rerank query through the same scorer and left-joins its
    per-doc scores onto the ≤N candidates — the join ships only
    (doc_id, score) pairs, never posting bytes, so the added cost is one
    ordinary query execution regardless of corpus size.
    """
    base = search(index, main_query, k=rerank_docs, mode=mode, prune=prune)
    rr = (matches(index, rerank_query, mode=mode)
          .select("doc_id", F.col("score").alias("_rr_score")))
    return (base.join(rr, "doc_id", "left")
            .withColumn("score",
                        F.col("score") + F.lit(float(weight)) *
                        F.coalesce(F.col("_rr_score"), F.lit(0.0)))
            .drop("_rr_score")
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k))


def elevate(index: Index, query: "str | Query", elevated: "tuple[int, ...]",
            excluded: "tuple[int, ...]" = (), k: int = 10,
            mode: str = "lucene8", prune: bool = True) -> DataFrame:
    """Editorial result elevation — Solr QueryElevationComponent semantics
    (public surface ``elevateIds=``/``excludeIds=`` with
    ``forceElevation=true``; u8:solr/core/.../handler/component/
    QueryElevationComponent.java):

      * ``elevated`` doc ids appear FIRST, in the configured order, with
        ``elevated = 1`` — even when they do not match the query
        (forceElevation); a non-matching elevated doc gets score 0.0
        (pinned contract — Solr substitutes an artificial sort key there,
        which has no float value to mirror);
      * ``excluded`` doc ids never appear;
      * organic hits fill the remaining ``k - len(elevated)`` slots in
        (score desc, doc_id asc) order;
      * ``rank`` is the explicit 0-based final position.

    Plan shape: one ordinary top-(k + len(elevated) + len(excluded))
    search (the buffer guarantees k organic survivors after the editorial
    drops), plus one matches() pass filtered to the <= len(elevated)
    elevated ids for their true scores — both k-bounded outputs; the
    editorial tables are literal, so nothing data-proportional ships.
    """
    elev_ids = [int(d) for d in elevated][:k]
    excl_ids = [int(d) for d in excluded]
    drop = [int(d) for d in (*elevated, *excluded)]
    n_org = max(0, k - len(elev_ids))
    organic = search(index, query, k=k + len(drop), mode=mode, prune=prune)
    if drop:
        organic = organic.filter(~F.col("doc_id").isin(drop))
    organic = (organic.orderBy(F.desc("score"), F.asc("doc_id"))
               .limit(n_org)
               .select("doc_id", "score",
                       F.lit(0).alias("elevated"),
                       F.lit(None).cast("int").alias("_ord")))
    if elev_ids:
        spark = index.spark
        order_df = spark.createDataFrame(
            [(d, i) for i, d in enumerate(elev_ids)],
            schema="doc_id bigint, _ord int")
        escores = (matches(index, query, mode=mode)
                   .filter(F.col("doc_id").isin(elev_ids))
                   .select("doc_id", F.col("score").alias("_es")))
        epart = (order_df.join(F.broadcast(escores), "doc_id", "left")
                 .select("doc_id",
                         F.coalesce(F.col("_es"),
                                    F.lit(0.0).cast("double")).alias("score"),
                         F.lit(1).alias("elevated"), "_ord"))
        out = epart.unionByName(organic)
    else:
        out = organic
    w = Window.orderBy(F.desc("elevated"), F.asc_nulls_last("_ord"),
                       F.desc("score"), F.asc("doc_id"))
    return (out.withColumn("rank", F.row_number().over(w) - 1)
            .drop("_ord").filter(F.col("rank") < k)
            .orderBy("rank"))


def term_vectors(index: Index, corpus: DataFrame,
                 doc_ids: "tuple[int, ...]") -> DataFrame:
    """Per-document term vectors — Solr TermVectorComponent surface
    (``tv=true&tv.df=true&tv.tf=true``; u8:solr/core/.../handler/
    component/TermVectorComponent.java): for each requested doc, its
    (term, tf) vector plus the term's global (df, cf).

    Forward-derived: the <= |doc_ids| requested docs are re-analyzed with
    the SQL-expressible standard chain (the ``doc_id IN`` filter pushes
    into the corpus parquet scan, so only those rows are read), then the
    tiny tf set is BROADCAST into the termstats join for global stats —
    the analyzer contract guarantees the forward pass equals the inverted
    index content, and nothing data-proportional ever ships.
    """
    from sparklucene.analysis import ENGLISH_STOP_WORDS, TOKEN_RE_SQL
    ids = [int(d) for d in doc_ids]
    tok = (corpus.filter(F.col("doc_id").isin(ids))
           .select("doc_id", F.explode(F.expr(
               f"regexp_extract_all(lower(content), '{TOKEN_RE_SQL}', 0)"
           )).alias("term"))
           .filter(~F.col("term").isin(sorted(ENGLISH_STOP_WORDS))))
    tv = tok.groupBy("doc_id", "term").agg(
        F.count("*").cast("long").alias("tf"))
    return (index.termstats().select("term", "df", "cf")
            .join(F.broadcast(tv), "term", "inner")
            .select("doc_id", "term", "tf", "df", "cf")
            .orderBy("doc_id", "term"))


def explain_terms(index: Index, corpus: DataFrame, terms: "tuple[str, ...]",
                  doc_ids: "tuple[int, ...]") -> DataFrame:
    """Score EXPLANATION — Lucene's ``IndexSearcher.explain`` surface for
    the scoring-boolean family (public knowledge:
    ``u8:lucene/core/.../search/IndexSearcher.java#explain``,
    ``BM25Similarity.explain``): for each requested (doc, query term)
    pair, the full BM25 decomposition the reference's Explanation tree
    prints — tf, df, dl, the SmallFloat-quantized dl the norm byte
    decodes to, idf, and the term's score contribution (f64 parity
    mode; idf and contribution are f32-rounded exactly like the engine's
    f64 scorer output).

    Forward-derived like :func:`term_vectors`: the ``doc_id IN`` filter
    pushes into the corpus scan (only the explained docs are read), tf
    is re-analyzed with the SQL-expressible chain, and the tiny tf set
    broadcasts into the termstats/docmeta joins — nothing
    data-proportional ships, matching explain's per-doc debugging use.
    """
    from sparklucene.analysis import ENGLISH_STOP_WORDS, TOKEN_RE_SQL
    from sparklucene.bm25 import B, K1

    ids = [int(d) for d in doc_ids]
    qterms = sorted(set(terms))
    tok = (corpus.filter(F.col("doc_id").isin(ids))
           .select("doc_id", F.explode(F.expr(
               f"regexp_extract_all(lower(content), '{TOKEN_RE_SQL}', 0)"
           )).alias("term"))
           .filter(~F.col("term").isin(sorted(ENGLISH_STOP_WORDS))))
    dl = tok.groupBy("doc_id").agg(F.count("*").cast("long").alias("dl"))
    tf = (tok.filter(F.col("term").isin(qterms))
          .groupBy("doc_id", "term")
          .agg(F.count("*").cast("long").alias("tf")))
    n_count = int(index.stats["doc_count"])
    sum_dl = int(index.stats["sum_dl"])
    # dlq = the SmallFloat-quantized length the norm byte decodes to —
    # Arrow-batched over the <= |doc_ids| explained rows
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from sparklucene.norms import quantize_length

    @pandas_udf("long")
    def _quant(s: pd.Series) -> pd.Series:
        import numpy as np
        return pd.Series(quantize_length(s.to_numpy(dtype=np.int64)))

    base = (tf.join(dl, "doc_id")
            .withColumn("dlq", _quant(F.col("dl")))
            .join(F.broadcast(
                index.termstats().select("term", "df")
                .filter(F.col("term").isin(qterms))), "term"))
    idf = F.log(F.lit(1.0) + (F.lit(float(n_count)) - F.col("df") + 0.5)
                / (F.col("df") + 0.5))
    avgdl = F.lit(sum_dl / float(n_count))
    denom = (F.col("tf") + F.lit(K1) * (F.lit(1.0 - B)
                                        + F.lit(B) * F.col("dlq") / avgdl))
    return (base.select(
        "doc_id", "term", "tf", "df", "dl", "dlq",
        idf.cast("float").cast("double").alias("idf"),
        ((idf * F.col("tf")) / denom)
        .cast("float").cast("double").alias("contribution"))
        .orderBy("doc_id", "term"))


def _term_occurrences(index: Index, query_term: str,
                      doc_ids: "tuple[int, ...] | None",
                      payloads: bool) -> DataFrame:
    """(doc_id, pos[, payload]) for every occurrence of one term, in
    ``doc_ids`` only when given: the positions reader, exploded."""
    docs = None if doc_ids is None else index.spark.createDataFrame(
        [(d,) for d in sorted({int(d) for d in doc_ids})], "doc_id long")
    occ = _positions(index, [query_term], docs,
                     f"term {query_term!r} has no position stream "
                     "(index built without positions)", payloads)
    cols = {"positions": "pos", **({"payloads": "payload"} if payloads
                                   else {})}
    o = F.explode(F.arrays_zip(*cols)).alias("o")
    return (occ.select("doc_id", o)
            .select("doc_id", *[F.col(f"o.{c}").cast("long").alias(a)
                                for c, a in cols.items()])
            .orderBy("doc_id", "pos"))


def term_positions(index: Index, query_term: str,
                   doc_ids: "tuple[int, ...] | None" = None) -> DataFrame:
    """Positions decoded FROM THE INDEX — Lucene's PostingsEnum with
    ``PostingsEnum.POSITIONS`` (public knowledge:
    ``u8:lucene/core/.../index/PostingsEnum.java``): every (doc,
    position) occurrence of a term read back from the delta+VByte
    position stream, optionally restricted to ``doc_ids``. Unlike
    :func:`term_vectors` (forward re-analysis), this is a direct
    round-trip check of the positions codec — what the oracle's raw
    token positions must equal.

    Scale shape: term pushdown on the postings scan (one term's cells),
    Arrow-batched decode per (term, drange) cell, narrow explode — the
    exact shape the phrase scorer uses.
    """
    return _term_occurrences(index, query_term, doc_ids, payloads=False)


def term_payloads(index: Index, query_term: str,
                  doc_ids: "tuple[int, ...] | None" = None) -> DataFrame:
    """Payloads decoded FROM THE INDEX — ``PostingsEnum.PAYLOADS``
    (public knowledge: ``u8:lucene/core/.../index/PostingsEnum.java``
    ``getPayload``): one byte per occurrence, aligned with the position
    stream; emitted as (doc_id, pos, payload). The codec round-trip twin
    of :func:`term_positions` for the payload plane. Same scale shape:
    term pushdown + Arrow-batched cell decode."""
    return _term_occurrences(index, query_term, doc_ids, payloads=True)


def terms_enum(index: Index, field: str | None = None,
               prefix: str | None = None, regex: str | None = None,
               lower: str | None = None, upper: str | None = None,
               include_lower: bool = True, include_upper: bool = False,
               mincount: int = 1, maxcount: int | None = None,
               limit: int = 10, sort: str = "count",
               ttf: bool = False) -> DataFrame:
    """Solr TermsComponent (``/terms`` handler — u8:solr/core/.../handler/
    component/TermsComponent.java): enumerate the term dictionary with
    ``terms.prefix`` / ``terms.regex`` / ``terms.lower``/``upper`` bounds,
    ``terms.mincount``/``maxcount`` df filters, ``terms.limit`` and
    ``terms.sort=count|index`` (count: df desc then term asc — pinned tie
    order; index: term asc). ``ttf`` additionally returns the collection
    frequency (``terms.ttf``).

    Runs entirely on the vocab-sized termstats dictionary — never the
    postings. On a cold handle the prefix/range predicates push into the
    term-sorted Parquet scan (min/max row-group skipping, the FST-seek
    analog); once the handle has cached the dictionary they filter the
    in-memory columnar copy. Ordered limit compiles to
    TakeOrderedAndProject (no global sort).
    """
    term = F.col("term")
    fk = field_key(field, "") if field else ""
    pred = term.startswith(fk) if fk else ~term.contains(FIELD_SEP)
    if prefix:
        pred = pred & term.startswith(fk + prefix)
    if regex is not None:
        # TermsComponent regex matches the full (raw) term
        pred = pred & term.rlike(f"^{fk}(?:{regex})$")
    if lower is not None:
        lo = fk + lower
        pred = pred & (term >= lo if include_lower else term > lo)
    if upper is not None:
        hi = fk + upper
        pred = pred & (term <= hi if include_upper else term < hi)
    out = index.termstats().filter(pred)
    if mincount > 1:
        out = out.filter(F.col("df") >= mincount)
    if maxcount is not None:
        out = out.filter(F.col("df") <= maxcount)
    if fk:
        out = out.withColumn(
            "term", F.expr(f"substring(term, {len(fk) + 1})"))
    cols = ["term", "df", "cf"] if ttf else ["term", "df"]
    order = ([F.desc("df"), F.asc("term")] if sort == "count"
             else [F.asc("term")])
    return out.select(*cols).orderBy(*order).limit(limit)


def _hydrate(topk: DataFrame, corpus: DataFrame | None) -> DataFrame:
    if corpus is None:
        return topk
    # winners are <= k rows: broadcast them into the corpus scan
    joined = corpus.join(F.broadcast(topk), "doc_id", "inner")
    cols = ["doc_id", "score", "repo", "path", "lang"]
    if "highlights" in topk.columns:
        # snippet: the token window around the FIRST matched position,
        # from the same pre-stop token stream the positions index
        toks = F.expr("regexp_extract_all(lower(content), '[a-z0-9_]+', 0)")
        allpos = F.flatten(F.transform("highlights",
                                       lambda h: h["positions"]))
        first = F.array_min(allpos)
        start = F.greatest(first - F.lit(2), F.lit(0))
        snippet = F.when(F.size("highlights") == 0, F.lit("")).otherwise(
            F.concat_ws(" ", F.slice(toks, start + 1, 7)))
        joined = joined.withColumn("snippet", snippet)
        cols += ["highlights", "snippet"]
    return (joined.select(*cols)
            .orderBy(F.desc("score"), F.asc("doc_id")))
