"""Doc-range scorer — BM25 top-k with MAXSCORE / block-max pruning.

The Spark-idiomatic counterpart of Lucene's per-leaf scorers (public
knowledge: WANDScorer.java, MaxScoreCache.java, BlockMaxConjunctionScorer;
papers: Broder et al. CIKM'03, Ding & Suel SIGIR'11). One instance scores
one *doc range* (the engine's segment analog): all posting cells for the
query terms in that range, plus the range's docmeta (norms).

Pruning design (SURVEY.md §7.4.3 — block-at-a-time, score-safe):
  * every pruning bound uses the same score function as the scorer with
    (block max_tf, block min_norm), which dominates every true score in
    the block under monotone float rounding — pruning can never change
    the top-k set (asserted exhaustive-vs-pruned in tests);
  * Term: visit 128-doc blocks in descending upper-bound order, in a
    few vectorized rounds that grow 4x (the first holds k hits). After
    each round θ is the kth best score and only hits >= θ are kept (a
    buffer of about k), and the next round takes only blocks whose
    bound is >= θ — the rest are skipped with one searchsorted;
  * Or (sum of SHOULD): MAXSCORE — seed θ by fully scoring the
    highest-upper-bound term, split terms into essential/non-essential by
    ascending prefix-sum of term upper bounds vs θ, score essential terms
    fully, then probe non-essential terms only for surviving candidates
    (gathering only the blocks that can contain them). With no
    non-essential term every term is already scored, and the result is
    the plain union sum;
  * And: df-ascending intersection (ConjunctionDISI's cost ordering) with
    block-level skip (searchsorted on block last_doc) before decode;
  * minimumShouldMatch > 1 disables θ seeding (a single-term kth-best is
    not a valid lower bound when docs can be disqualified) — still exact;
  * MUST_NOT docs are masked out *before* any θ is computed, keeping
    seeded pruning safe under exclusions.

Scores: float32 per (term, doc), summed per doc in a float64 accumulator
in sorted-term order, cast to float32 — both precision modes (lucene8 /
f64) share this combiner, matching the brute-force oracle bit-for-bit.
When the summed docs are dense (span <= 4x the posting count, always so
inside a dense doc range) the accumulator is an array over the doc-id
span, so no sort-based union is built; each doc still adds its parts in
the same order, so the sums are the same bits.

Top-k selection is threshold-first: the kth best score is found before
any sort (a floor from 128-score chunk maxima, then ``np.partition``),
and only hits at or above it — ties included — are lexsorted.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

from sparklucene import bm25
from sparklucene.codec import (BLOCK_SIZE, decode_doc_ids, decode_positions,
                               decode_tfs)
from sparklucene.norms import LENGTH_TABLE
from sparklucene.query import (And, ConstantScore, DisMax, Filtered,
                               MatchAllDocs, MatchNoDocs, MultiPhrase, Not,
                               Or, PayloadCheck, PayloadScore, Phrase,
                               Query, Span,
                               SpanFirst, Synonym, Term, Within)
from sparklucene.spans import empty_spans, eval_spans, leaf_terms


@dataclass
class RangeCell:
    """Decoded-on-demand posting cell for one (term, drange).

    Norm bytes travel inside the cell (impact-list design): scoring needs
    no docmeta lookup, so the whole query path is a single postings scan.
    Byte fields may be memoryviews over Arrow buffers (read-only, never
    copied); empty means absent.
    """

    doc_bytes: bytes | memoryview
    tf_bytes: bytes | memoryview
    norm_bytes: bytes | memoryview
    block_last: np.ndarray
    block_max_tf: np.ndarray
    block_min_norm: np.ndarray
    pos_bytes: bytes | memoryview = b""
    pay_bytes: bytes | memoryview = b""
    _docs: np.ndarray | None = field(default=None, repr=False)
    _tfs: np.ndarray | None = field(default=None, repr=False)

    def decode(self) -> tuple[np.ndarray, np.ndarray]:
        if self._docs is None:
            self._docs = decode_doc_ids(self.doc_bytes)
            self._tfs = decode_tfs(self.tf_bytes)
        return self._docs, self._tfs

    def norms(self) -> np.ndarray:
        return np.frombuffer(self.norm_bytes, dtype=np.uint8)

    def positions(self) -> np.ndarray:
        """Flat absolute positions (segments of lengths tfs)."""
        return decode_positions(self.pos_bytes, self.decode()[1])

    def payloads(self) -> np.ndarray:
        """Flat payload bytes — ONE per occurrence, aligned with the
        position stream (segments of lengths tfs)."""
        return np.frombuffer(self.pay_bytes, dtype=np.uint8)


@dataclass
class TermStats:
    df: int
    cf: int


@dataclass
class GlobalStats:
    doc_count: int
    sum_dl: int
    term_stats: dict[str, TermStats]
    #: per-field {name: {"doc_count": N, "sum_dl": S}} for multi-field
    #: indexes; None / missing field falls back to the default field's
    #: stats (Lucene's per-field CollectionStatistics)
    field_stats: dict[str, dict] | None = None

    def stats_for(self, term: str) -> tuple[int, int]:
        """(doc_count, sum_dl) of the field encoded in an internal term
        key — BM25 then uses that field's avgdl."""
        if self.field_stats:
            from sparklucene.query import DEFAULT_FIELD, field_of_key
            f = field_of_key(term)
            if f != DEFAULT_FIELD:
                fs = self.field_stats.get(f)
                if fs is not None:
                    return int(fs["doc_count"]), int(fs["sum_dl"])
        return self.doc_count, self.sum_dl


@dataclass
class ScoreMetrics:
    docs_scored: int = 0
    docs_total: int = 0
    blocks_skipped: int = 0


class RangeScorer:
    def __init__(self, cells: dict[str, RangeCell], stats: GlobalStats,
                 mode: str = "lucene8", prune: bool = True,
                 deleted: np.ndarray | None = None,
                 allowed: np.ndarray | None = None):
        self.cells = cells
        self.stats = stats
        self.mode = mode
        # a user-supplied similarity has no monotone upper-bound contract,
        # so pruning is disabled (exhaustive — still exact)
        self.prune = prune and not callable(mode)
        self.deleted = (np.asarray(deleted, dtype=np.int64)
                        if deleted is not None else np.empty(0, np.int64))
        #: include-set (FILTER / frange doc set): when not None, only
        #: these doc ids may match. Applied in _filtered alongside the
        #: exclusion mask, BEFORE any pruning decision — masking docs
        #: only lowers true scores, so block upper bounds stay valid
        #: (the same argument that makes deletions prune-safe).
        self.allowed = (np.asarray(allowed, dtype=np.int64)
                        if allowed is not None else None)
        self.metrics = ScoreMetrics()
        self._neg_mask_docs: np.ndarray | None = None
        self._after: tuple[float, int] | None = None

    # ---- scoring primitives -------------------------------------------

    def _idf(self, df: int, n: int) -> float:
        idf = bm25.idf_classic if self.mode == "classic" else bm25.idf
        return idf(df, n)

    def _sim(self, idf: float, boost: float, tfs: np.ndarray, nb: np.ndarray,
             N: int, S: int) -> np.ndarray:
        """The one similarity switch: float32 scores of (tf, norm byte)
        postings under the mode, for a (summed) ``idf`` and query
        ``boost``. Block bounds are the same call at (block max_tf, block
        min_norm): every mode is monotone in both, and float rounding is
        monotone, so the bound dominates every score in the block."""
        if self.mode == "boolean":
            # BooleanSimilarity: score = boost, tf/norm/idf ignored
            return np.full(np.size(tfs), np.float32(boost), dtype=np.float32)
        if self.mode == "lucene8":
            return bm25.score_lucene8_w(idf, tfs, nb, N, S, boost=boost)
        if self.mode == "classic":
            return bm25.score_classic_w(boost * idf, tfs, LENGTH_TABLE[nb])
        return bm25.score_f64_w(boost * idf, tfs, LENGTH_TABLE[nb], N, S)

    def _score_arrays(self, term: str, tfs: np.ndarray, nb: np.ndarray,
                      boost: float = 1.0) -> np.ndarray:
        """Scores for postings of ``term`` given aligned (tf, norm byte)."""
        ts = self.stats.term_stats[term]
        N, S = self.stats.stats_for(term)
        self.metrics.docs_scored += int(tfs.size)
        if callable(self.mode):
            # pluggable Similarity (SURVEY §2.13): fn(tf, dl, df, cf,
            # doc_count, sum_dl) -> per-posting scores; dl is the
            # SmallFloat-quantized length (what the index stores), cf the
            # term's collection frequency (enables LM/DFR-family models)
            s = np.asarray(self.mode(tfs, LENGTH_TABLE[nb].astype(np.int64),
                                     ts.df, ts.cf, N, S), dtype=np.float64)
            return (np.float64(boost) * s).astype(np.float32)
        return self._sim(self._idf(ts.df, N), boost, tfs, nb, N, S)

    def _block_ubs(self, term: str, cell: RangeCell) -> np.ndarray:
        N, S = self.stats.stats_for(term)
        return self._sim(self._idf(self.stats.term_stats[term].df, N), 1.0,
                         np.asarray(cell.block_max_tf, dtype=np.int64),
                         np.asarray(cell.block_min_norm, dtype=np.uint8), N, S)

    def _live_mask(self, docs: np.ndarray) -> np.ndarray | None:
        """Boolean keep-mask of ``docs`` (sorted, unique) under the
        live-docs mask (deletions, filter complement and MUST_NOT
        matches); None when nothing is masked."""
        if self._neg_mask_docs is None or not self._neg_mask_docs.size:
            return None
        return ~np.isin(docs, self._neg_mask_docs, assume_unique=True)

    def _live(self, docs: np.ndarray, *cols: np.ndarray
              ) -> tuple[np.ndarray, ...]:
        """``docs`` (sorted, unique) and its aligned ``cols`` without the
        docs of the live-docs mask."""
        keep = self._live_mask(docs)
        if keep is None:
            return (docs, *cols)
        return (docs[keep], *(c[keep] for c in cols))

    def _filtered(self, term: str) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """Decoded (docs, tfs, norm bytes) with MUST_NOT docs masked out."""
        cell = self.cells.get(term)
        if cell is None:
            return (np.empty(0, np.int64), np.empty(0, np.int64),
                    np.empty(0, np.uint8))
        return self._live(*cell.decode(), cell.norms())

    def _df(self, term: str) -> int:
        """Global df of ``term``; a term absent from term_stats (direct
        scorer use, no prune_missing) falls back to its local posting
        length."""
        s = self.stats.term_stats.get(term)
        return s.df if s is not None else self.cells[term].decode()[0].size

    def _term_scores(self, term: str, boost: float = 1.0
                     ) -> tuple[np.ndarray, np.ndarray]:
        docs, tfs, norms = self._filtered(term)
        if docs.size == 0:
            return docs, np.empty(0, np.float32)
        return docs, self._score_arrays(term, tfs, norms, boost)

    def _synonym_scores(self, q: Synonym) -> tuple[np.ndarray, np.ndarray]:
        """SynonymQuery matcher — the pinned spec lives on the Synonym
        dataclass: one pseudo-term with freq = sum of member tfs and
        df = max of member dfs (SynonymWeight's blended TermStatistics).
        Norms are shared across members by construction (same field)."""
        present = [t for t in q.members if t in self.cells]
        if not present:
            return np.empty(0, np.int64), np.empty(0, np.float32)
        if callable(self.mode):
            raise NotImplementedError(
                "synonym scoring under a user-supplied similarity is not "
                "supported (no blended-stats contract for an opaque "
                "callable)")
        parts = [self._filtered(t) for t in present]
        docs = np.concatenate([p[0] for p in parts])
        if docs.size == 0:
            return np.empty(0, np.int64), np.empty(0, np.float32)
        tfs = np.concatenate([p[1] for p in parts])
        nbs = np.concatenate([p[2] for p in parts])
        order = np.argsort(docs, kind="stable")
        docs, tfs, nbs = docs[order], tfs[order], nbs[order]
        udocs, idx = np.unique(docs, return_index=True)
        ftf = np.add.reduceat(tfs, idx)
        nb = nbs[idx]
        self.metrics.docs_scored += int(udocs.size)
        # blended df: explicit override (BlendedTermQuery rewrite) wins;
        # else stats when available, local posting length as the
        # direct-scorer fallback (the phrase matcher's convention)
        df = (q.blend_df if q.blend_df is not None
              else max(self._df(t) for t in present))
        N, S = self.stats.stats_for(present[0])
        return udocs, self._sim(self._idf(df, N), q.boost, ftf, nb, N, S)

    # ---- top-level evaluation ------------------------------------------

    def topk(self, q: Query, k: int,
             after: tuple[float, int] | None = None
             ) -> tuple[np.ndarray, np.ndarray]:
        """(doc_ids, float32 scores) — partition-local top-k, score desc,
        doc asc.

        ``after`` is a (score, doc_id) cursor (searchAfter / CursorMark):
        only hits strictly after that sort key are collected, and the
        local heap stays k-bounded — deep pages never materialize the
        full match set. Pruning stays safe: θ is maintained over the
        *qualified* collected hits only (single-term path); OR queries
        fall back to exhaustive scoring because a seed-term θ is not a
        valid lower bound once high-scoring docs are cursor-excluded.
        """
        self._after = after
        q, neg_query = self._split_neg(q)
        deleted = self.deleted
        if self.allowed is not None:
            # FILTER include-set (frange / fq doc set): convert to an
            # exclusion over this range's posting universe — only docs
            # present in some cell can ever match, so the complement
            # within the decoded universe is a complete exclusion set.
            # One uniform mask keeps every scoring path (WAND, phrase,
            # boolean) filter-aware without per-path plumbing, and the
            # decode cost is already paid (docs_total metrics below).
            universe = [c.decode()[0] for c in self.cells.values()]
            alldocs = (np.unique(np.concatenate(universe)) if universe
                       else np.empty(0, np.int64))
            excl = alldocs[~np.isin(alldocs, self.allowed,
                                    assume_unique=True)]
            deleted = np.union1d(deleted, excl)
        self._neg_mask_docs = deleted  # live-docs mask (deletions+filter)
        if neg_query is not None:
            # evaluate the excluded doc set generically (phrases excluded
            # by phrase match, not by their terms — ReqExclScorer semantics)
            self._neg_mask_docs = np.unique(np.concatenate(
                (deleted, self._clause_scores(neg_query)[0])))
        for t in self._pos_terms(q):
            cell = self.cells.get(t)
            if cell is not None:
                self.metrics.docs_total += cell.decode()[0].size
        if isinstance(q, MatchNoDocs):
            return np.empty(0, np.int64), np.empty(0, np.float32)
        if isinstance(q, Term) and q.boost == 1.0:
            docs, scores = self._topk_single(q.term, k)
        elif isinstance(q, And):
            docs, scores = self._eval_and(q)
        elif isinstance(q, Or):
            docs, scores = self._eval_or(q, k)
        else:
            docs, scores = self._clause_scores(q)
        docs, scores = self._cursor_mask(docs, scores)
        return _take_topk(docs, scores, k)

    def _cursor_mask(self, docs: np.ndarray, scores: np.ndarray
                     ) -> tuple[np.ndarray, np.ndarray]:
        """Keep hits strictly after the (score desc, doc asc) cursor.
        Applied only to TOP-LEVEL results (inner boolean clauses must keep
        every contribution); idempotent, so paths that mask early for θ
        safety are unaffected by the final pass."""
        if self._after is None or docs.size == 0:
            return docs, scores
        a_s, a_d = float(self._after[0]), int(self._after[1])
        s64 = scores.astype(np.float64)
        m = (s64 < a_s) | ((s64 == a_s) & (docs > a_d))
        return docs[m], scores[m]

    def _split_neg(self, q: Query) -> tuple[Query, Query | None]:
        if isinstance(q, Not):
            return q.positive, q.negative
        return q, None

    def _pos_terms(self, q: Query) -> list[str]:
        return q.terms() if not isinstance(q, MatchNoDocs) else []

    # ---- single term with block-max pruning ----------------------------

    def _topk_single(self, term: str, k: int) -> tuple[np.ndarray, np.ndarray]:
        cell = self.cells.get(term)
        if cell is None:
            return np.empty(0, np.int64), np.empty(0, np.float32)
        cols = (*cell.decode(), cell.norms())
        live = self._live_mask(cols[0])
        n_live = cols[0].size if live is None else int(live.sum())
        if n_live == 0:
            return np.empty(0, np.int64), np.empty(0, np.float32)
        if not self.prune or n_live <= k or k < 1:
            docs, tfs, norms = cols if live is None else (c[live] for c in cols)
            return self._cursor_mask(docs, self._score_arrays(term, tfs, norms))
        # blocks in descending-bound order, scored in rounds that grow 4x,
        # starting with enough blocks to hold k hits. θ is the kth best
        # score so far, and only hits scoring >= θ are kept, so the kept
        # set stays about k long and a round costs O(k + round). The
        # bounds are sorted, so the blocks still worth scoring are a
        # prefix of the rest: those with bound >= θ (strict skip: a
        # bound or a score that ties θ can still win the doc-id
        # tie-break). Under a cursor, θ is over QUALIFIED hits only
        # (unqualified scores would over-prune blocks that hold page-2
        # docs); deletions mask postings before collection, which never
        # invalidates a block's bound.
        ubs = self._block_ubs(term, cell)
        order = np.argsort(-ubs.astype(np.float64), kind="stable")
        neg_ubs = -ubs[order]  # ascending
        if live is not None:
            cols = (*cols, live)
        docs, scores = np.empty(0, np.int64), np.empty(0, np.float32)
        theta = None
        pos, step = 0, -(-k // BLOCK_SIZE)
        while pos < order.size:
            stop = order.size if theta is None else int(
                np.searchsorted(neg_ubs, -theta, side="right"))
            if stop <= pos:
                break
            blocks = order[pos:min(stop, pos + step)]
            bd, bt, bn, *bl = _block_rows(cols, blocks)
            if bl:
                bd, bt, bn = bd[bl[0]], bt[bl[0]], bn[bl[0]]
            bd, s = self._cursor_mask(bd, self._score_arrays(term, bt, bn))
            if theta is not None:
                keep = s >= theta
                bd, s = bd[keep], s[keep]
            docs, scores = np.concatenate((docs, bd)), np.concatenate((scores, s))
            if scores.size >= k:
                theta = np.partition(scores, scores.size - k)[scores.size - k]
                keep = scores >= theta
                docs, scores = docs[keep], scores[keep]
            pos += blocks.size
            step *= 4
        self.metrics.blocks_skipped += int(order.size - pos)
        return docs, scores

    # ---- positional matchers: one front end ----------------------------

    def _positional(self, terms, what: str, pack: bool = True
                    ) -> dict[str, tuple[np.ndarray, ...]]:
        """Decoded (docs, tfs, cum, positions) of each term (all present
        in ``cells``); ``cum`` holds the per-doc segment bounds of the flat
        position stream. Matchers that ``pack`` (doc, pos) into one uint64
        key split it at bit 32, so the domain is guarded: large ids (e.g.
        log-offset-derived) fail loudly instead of silently colliding."""
        out = {}
        for t in terms:
            cell = self.cells[t]
            if not cell.pos_bytes:
                raise ValueError(
                    f"{what} requires an index built with positions "
                    "(build_index(..., store_positions=True))")
            docs, tfs = cell.decode()
            pos = cell.positions()
            if pack and docs.size and (int(docs[-1]) >= 1 << 32 or (
                    pos.size and int(pos.max()) >= 1 << 31)):
                raise ValueError(
                    f"{what} requires doc_id < 2^32 and token positions "
                    f"< 2^31 (term {t!r}: max doc_id {int(docs[-1])}, "
                    f"max pos {int(pos.max()) if pos.size else 0})")
            out[t] = (docs, tfs, np.concatenate(([0], np.cumsum(tfs))), pos)
        return out

    def _conjunction(self, pos: dict) -> np.ndarray:
        """Live docs holding every decoded term: df-ascending intersection
        (ConjunctionDISI's cost order)."""
        by_df = sorted(pos, key=self._df)
        cand = pos[by_df[0]][0]
        for t in by_df[1:]:
            cand = cand[np.isin(cand, pos[t][0], assume_unique=True)]
        return self._live(cand)[0]

    def _norms_at(self, term: str, docs: np.ndarray) -> np.ndarray:
        """Norm bytes of ``docs``, all present in ``term``'s cell (norms
        are per-doc, so any cell holding the doc has the same byte)."""
        cell = self.cells[term]
        return cell.norms()[np.searchsorted(cell.decode()[0], docs)]

    def _phrase_scores(self, q: Phrase) -> tuple[np.ndarray, np.ndarray]:
        """ExactPhraseMatcher: docs where some base position carries
        term_i at base+offset_i for every slot; tf = phrase frequency.
        Vectorized as successive intersections of (doc, base) key sets.
        slop > 0 dispatches to the proximity matcher."""
        if q.slop > 0:
            return self._sloppy_scores(q)
        dterms = {t for _, t in q.slots}
        if any(t not in self.cells for t in dterms):
            return np.empty(0, np.int64), np.empty(0, np.float32)
        pos = self._positional(dterms, "phrase query")
        cand = self._conjunction(pos)
        if cand.size == 0:
            return cand, np.empty(0, np.float32)
        keys = None
        for off, t in q.slots:
            k = _slot_keys(pos[t], cand, off)
            keys = k if keys is None else np.intersect1d(keys, k,
                                                         assume_unique=True)
            if keys.size == 0:
                return np.empty(0, np.int64), np.empty(0, np.float32)
        pdocs, pfreq = np.unique((keys >> np.uint64(32)).astype(np.int64),
                                 return_counts=True)
        self.metrics.docs_scored += int(pdocs.size)
        self.metrics.docs_total += int(pdocs.size)
        nb = self._norms_at(min(pos, key=self._df), pdocs)
        return pdocs, self._phrase_weighted(q, pfreq, nb)

    def _phrase_weighted(self, q: Phrase | MultiPhrase | Within,
                         pfreq: np.ndarray, nb: np.ndarray) -> np.ndarray:
        """Phrase scoring with the mode's summed-idf weight (the query
        boost folded into it). For a MultiPhrase the idf sums over EVERY
        alternative of every slot (MultiPhraseWeight collects all
        TermStatistics)."""
        if callable(self.mode):
            raise NotImplementedError(
                "phrase scoring under a user-supplied similarity is not "
                "supported (the engine cannot derive a phrase weight from "
                "an opaque callable)")
        qboost = float(getattr(q, "boost", 1.0))
        if self.mode == "boolean":
            return np.full(pfreq.size, np.float32(qboost), dtype=np.float32)
        if isinstance(q, MultiPhrase):
            slot_terms = [t for _, alts in q.slots for t in alts]
        elif isinstance(q, Within):
            slot_terms = list(q.members)
        elif isinstance(q, SpanFirst):
            slot_terms = [q.match]
        elif isinstance(q, PayloadCheck):
            slot_terms = [q.term]
        elif isinstance(q, Span):
            slot_terms = q.weight_terms()
        else:
            slot_terms = [t for _, t in q.slots]
        # all slot terms share one field by construction (qualify());
        # terms absent from the index contribute no idf — identical to
        # prune_missing dropping them first (the search() path), but safe
        # for direct scorer use too
        slot_terms = [t for t in slot_terms if t in self.stats.term_stats]
        if not slot_terms:
            # direct scorer use (no prune_missing) where every slot term is
            # absent from term_stats: idf sum is 0 → weight 0 for all docs
            return np.zeros(pfreq.size, dtype=np.float32)
        N, S = self.stats.stats_for(slot_terms[0])
        idf_total = qboost * sum(self._idf(self.stats.term_stats[t].df, N)
                                 for t in slot_terms)
        return self._sim(idf_total, 1.0, pfreq, nb, N, S)

    def _multiphrase_scores(self, q: MultiPhrase
                            ) -> tuple[np.ndarray, np.ndarray]:
        """MultiPhraseQuery: per slot, the (doc, base) key set is the
        UNION over that slot's alternative terms; slots then intersect
        exactly like the single-term phrase matcher. A missing alternative
        contributes nothing; a slot with no present alternative matches
        nothing (prune_missing already drops those)."""
        all_terms = sorted({t for _, alts in q.slots for t in alts})
        present = [t for t in all_terms if t in self.cells]
        pos = self._positional(present, "multi-phrase query")
        # candidate docs: intersection over slots of the union of alts
        cand = None
        for _off, alts in q.slots:
            alt_docs = [pos[t][0] for t in alts if t in pos]
            if not alt_docs:
                return np.empty(0, np.int64), np.empty(0, np.float32)
            u = (alt_docs[0] if len(alt_docs) == 1
                 else np.unique(np.concatenate(alt_docs)))
            cand = u if cand is None else cand[np.isin(cand, u,
                                                       assume_unique=True)]
        cand = (self._live(cand)[0] if cand is not None
                else np.empty(0, np.int64))
        if cand.size == 0:
            return np.empty(0, np.int64), np.empty(0, np.float32)
        keys = None
        for off, alts in q.slots:
            sk = np.unique(np.concatenate([_slot_keys(pos[t], cand, off)
                                           for t in alts if t in pos]))
            keys = sk if keys is None else np.intersect1d(keys, sk,
                                                          assume_unique=True)
            if keys.size == 0:
                return np.empty(0, np.int64), np.empty(0, np.float32)
        pdocs, pfreq = np.unique((keys >> np.uint64(32)).astype(np.int64),
                                 return_counts=True)
        self.metrics.docs_scored += int(pdocs.size)
        self.metrics.docs_total += int(pdocs.size)
        # norms: a matching doc may appear in only SOME alternatives —
        # fill from the df-ascending present terms until every doc has one
        nb = np.zeros(pdocs.size, dtype=np.uint8)
        filled = np.zeros(pdocs.size, dtype=bool)
        for t in sorted(present, key=lambda t: self.stats.term_stats[t].df):
            d0 = pos[t][0]
            idx = np.searchsorted(d0, pdocs)
            idx_c = np.clip(idx, 0, max(0, d0.size - 1))
            hit = (d0.size > 0) & (d0[idx_c] == pdocs) & ~filled
            nb[hit] = self.cells[t].norms()[idx_c[hit]]
            filled |= hit
            if filled.all():
                break
        return pdocs, self._phrase_weighted(q, pfreq, nb)

    def _sloppy_scores(self, q: Phrase) -> tuple[np.ndarray, np.ndarray]:
        """Proximity phrase (pinned engine spec, Lucene-inspired):

        For each doc, every slot-0 position defines an anchor
        ``base = p0 - off0``. Each remaining slot i contributes
        ``d_i = min over positions p of |p - off_i - base|``; the anchor
        matches when ``D = sum d_i <= slop``, weighted ``2^-D``.
        ``tf = sum of weights`` (a float frequency, like Lucene's
        sloppyFreq), scored with the summed-idf phrase weight. 2^-D is
        dyadic so the frequency sum is exact in float64 regardless of
        accumulation order (cross-engine reproducible, unlike 1/(1+d)).
        """
        dterms = {t for _, t in q.slots}
        if any(t not in self.cells for t in dterms):
            return np.empty(0, np.int64), np.empty(0, np.float32)
        pos = self._positional(dterms, "sloppy phrase query")
        cand = self._conjunction(pos)
        if cand.size == 0:
            return np.empty(0, np.int64), np.empty(0, np.float32)
        # fully vectorized across ALL candidate docs (no per-doc Python
        # loop): nearest-position lookups use packed uint64 (doc, pos+BIAS)
        # keys so one global searchsorted serves every anchor of every doc;
        # clipping to the doc's own [lo, hi) slice localizes the answer.
        BIAS = 1 << 20  # headroom for negative targets (base = p0 - off0)
        if any(off >= BIAS for off, _ in q.slots):
            raise ValueError("phrase slot offsets must be < 2^20")
        (off0, t0), rest = q.slots[0], q.slots[1:]
        anchor_docs, anchors = _in_docs(pos[t0], cand)
        anchors = anchors - off0
        if anchor_docs.size == 0:
            return np.empty(0, np.int64), np.empty(0, np.float32)
        adoc_keys = anchor_docs.astype(np.uint64) << np.uint64(32)
        total = np.zeros(anchors.size, dtype=np.int64)
        for off, t in rest:
            docs_t, tfs_t, cum_t, pos_t = pos[t]
            key_t = ((np.repeat(docs_t, tfs_t).astype(np.uint64)
                      << np.uint64(32))
                     | (pos_t + BIAS).astype(np.uint64))
            target = anchors + off
            tkey = adoc_keys | (target + BIAS).astype(np.uint64)
            seg = np.searchsorted(docs_t, anchor_docs)
            lo, hi = cum_t[seg], cum_t[seg + 1]
            j = np.searchsorted(key_t, tkey)
            jc = np.clip(j, lo, hi - 1)
            jl = np.clip(j - 1, lo, hi - 1)
            total += np.minimum(np.abs(pos_t[jc] - target),
                                np.abs(pos_t[jl] - target))
        m = total <= q.slop
        if not m.any():
            return np.empty(0, np.int64), np.empty(0, np.float32)
        # group anchor weights 2^-D per doc (dyadic -> order-proof sums)
        pdocs, inv = np.unique(anchor_docs[m], return_inverse=True)
        pfreq = np.zeros(pdocs.size, dtype=np.float64)
        np.add.at(pfreq, inv, np.ldexp(1.0, -total[m]))
        self.metrics.docs_scored += int(pdocs.size)
        nb = self._norms_at(min(pos, key=self._df), pdocs)
        return pdocs, self._phrase_weighted(q, pfreq, nb)

    def _within_scores(self, q: Within) -> tuple[np.ndarray, np.ndarray]:
        """Minimal-interval matcher (ordered / unordered within window) —
        the pinned spec lives on the Within dataclass. Fully vectorized
        across all anchors of all candidate docs with the same packed
        uint64 (doc, pos) searchsorted machinery as the sloppy matcher."""
        dterms = set(q.members)
        if len(dterms) < len(q.members):
            raise ValueError("Within members must be distinct terms")
        if any(t not in self.cells for t in dterms):
            return np.empty(0, np.int64), np.empty(0, np.float32)
        pos = self._positional(dterms, "interval (Within) query")
        cand = self._conjunction(pos)
        if cand.size == 0:
            return np.empty(0, np.int64), np.empty(0, np.float32)
        t0 = q.members[0]
        anchor_docs, anchors = _in_docs(pos[t0], cand)
        if anchor_docs.size == 0:
            return np.empty(0, np.int64), np.empty(0, np.float32)
        adoc_keys = anchor_docs.astype(np.uint64) << np.uint64(32)
        alive = np.ones(anchors.size, dtype=bool)
        if q.ordered:
            prev = anchors.copy()
            for t in q.members[1:]:
                docs_t, tfs_t, cum_t, pos_t = pos[t]
                key_t = ((np.repeat(docs_t, tfs_t).astype(np.uint64)
                          << np.uint64(32)) | pos_t.astype(np.uint64))
                # first position of t strictly after prev in the same doc
                j = np.searchsorted(key_t,
                                    adoc_keys | (prev + 1).astype(np.uint64))
                seg = np.searchsorted(docs_t, anchor_docs)
                hi = cum_t[seg + 1]
                ok = j < hi  # keys of earlier docs all sort lower -> j>=lo
                jc = np.clip(j, 0, max(0, pos_t.size - 1))
                nxt = pos_t[jc].astype(np.int64)
                alive &= ok
                prev = np.where(ok, nxt, prev)
            width = prev - anchors + 1
        else:
            lo_p = anchors.copy()
            hi_p = anchors.copy()
            for t in q.members[1:]:
                docs_t, tfs_t, cum_t, pos_t = pos[t]
                key_t = ((np.repeat(docs_t, tfs_t).astype(np.uint64)
                          << np.uint64(32)) | pos_t.astype(np.uint64))
                seg = np.searchsorted(docs_t, anchor_docs)
                lo, hi = cum_t[seg], cum_t[seg + 1]
                j = np.searchsorted(key_t, adoc_keys | anchors.astype(np.uint64))
                jc = np.clip(j, lo, hi - 1)
                jl = np.clip(j - 1, lo, hi - 1)
                dc = np.abs(pos_t[jc].astype(np.int64) - anchors)
                dl = np.abs(pos_t[jl].astype(np.int64) - anchors)
                # nearest position; ties -> the smaller (jl <= jc, so
                # pos[jl] <= pos[jc])
                qi = np.where(dl <= dc, pos_t[jl], pos_t[jc]).astype(np.int64)
                lo_p = np.minimum(lo_p, qi)
                hi_p = np.maximum(hi_p, qi)
            width = hi_p - lo_p + 1
        m = alive & (width <= q.window)
        if not m.any():
            return np.empty(0, np.int64), np.empty(0, np.float32)
        pdocs, pfreq = np.unique(anchor_docs[m], return_counts=True)
        self.metrics.docs_scored += int(pdocs.size)
        self.metrics.docs_total += int(pdocs.size)
        return pdocs, self._phrase_weighted(q, pfreq,
                                            self._norms_at(t0, pdocs))

    def _span_scores(self, q: Span) -> tuple[np.ndarray, np.ndarray]:
        """Nested span-algebra matcher — the pinned spec lives in
        :mod:`sparklucene.spans` (the oracle contract). The whole tree
        evaluates vectorized over canonical (doc, start, end) arrays;
        freq = root spans per doc, weighted with the include-side
        summed-idf phrase weight. Norms come from any leaf cell holding
        the doc (norms are per-doc, cells inline them)."""
        pos = self._positional([t for t in leaf_terms(q.root)
                                if t in self.cells], "span query")
        # leaves decode once per term, then the tree evaluates over them
        leaves = {t: (np.repeat(d, tfs), p, p + 1)
                  for t, (d, tfs, _, p) in pos.items()}
        d, _, _ = eval_spans(q.root, lambda t: leaves[t] if t in leaves
                             else empty_spans())
        pdocs, pfreq = self._live(*np.unique(d, return_counts=True))
        if pdocs.size == 0:
            return np.empty(0, np.int64), np.empty(0, np.float32)
        self.metrics.docs_scored += int(pdocs.size)
        self.metrics.docs_total += int(pdocs.size)
        und, first = np.unique(np.concatenate([e[0] for e in pos.values()]),
                               return_index=True)
        nb = np.concatenate([self.cells[t].norms() for t in pos])[first]
        return pdocs, self._phrase_weighted(
            q, pfreq, nb[np.searchsorted(und, pdocs)])

    def _payload_scores(self, q: PayloadScore
                        ) -> tuple[np.ndarray, np.ndarray]:
        """PayloadScoreQuery matcher — the pinned spec lives on the
        PayloadScore dataclass: per-doc ``factor = fn`` over the term's
        payload bytes; score = factor * term BM25 (include_span_score)
        or the raw factor. Payload segments align to the UNFILTERED
        posting list, so aggregation happens before any doc masking."""
        cell = self.cells.get(q.term)
        if cell is None:
            return np.empty(0, np.int64), np.empty(0, np.float32)
        docs, tfs = cell.decode()
        if docs.size == 0:
            return docs, np.empty(0, np.float32)
        if not cell.pay_bytes:
            raise ValueError(
                "PayloadScore requires an index built with payloads=... "
                f"(term {q.term!r} has no payload stream)")
        pay = cell.payloads().astype(np.float64)
        seg = np.concatenate(([0], np.cumsum(tfs)))[:-1].astype(np.int64)
        if q.fn == "max":
            factor = np.maximum.reduceat(pay, seg)
        elif q.fn == "min":
            factor = np.minimum.reduceat(pay, seg)
        else:
            factor = np.add.reduceat(pay, seg)
            if q.fn == "avg":
                factor = factor / tfs.astype(np.float64)
        docs, tfs, norms, factor = self._live(docs, tfs, cell.norms(), factor)
        if docs.size == 0:
            return docs, np.empty(0, np.float32)
        self.metrics.docs_scored += int(docs.size)
        if not q.include_span_score:
            return docs, factor.astype(np.float32)
        if self.mode == "f64":
            # one final float32 cast over the whole f64 product — the
            # same expression order the DuckDB oracle uses
            ts = self.stats.term_stats[q.term]
            N, S = self.stats.stats_for(q.term)
            w = bm25.idf(ts.df, N)
            tf64 = tfs.astype(np.float64)
            d64 = LENGTH_TABLE[norms].astype(np.float64)
            denom = tf64 + bm25.K1 * (1.0 - bm25.B
                                      + bm25.B * d64 / (S / float(N)))
            return docs, (factor * (w * tf64 / denom)).astype(np.float32)
        base = self._score_arrays(q.term, tfs, norms)
        self.metrics.docs_scored -= int(docs.size)  # counted once above
        return docs, (factor * base.astype(np.float64)).astype(np.float32)

    def _payloadcheck_scores(self, q: PayloadCheck
                             ) -> tuple[np.ndarray, np.ndarray]:
        """SpanPayloadCheckQuery matcher — the pinned spec lives on the
        PayloadCheck dataclass: an occurrence matches only when its
        payload byte equals the required value; freq = matching count,
        phrase-weighted. Payload segments align to the UNFILTERED
        posting list, exactly like PayloadScore."""
        cell = self.cells.get(q.term)
        if cell is None:
            return np.empty(0, np.int64), np.empty(0, np.float32)
        docs, tfs = cell.decode()
        if docs.size == 0:
            return docs, np.empty(0, np.float32)
        if not cell.pay_bytes:
            raise ValueError(
                "PayloadCheck requires an index built with payloads=... "
                f"(term {q.term!r} has no payload stream)")
        docs_rep = np.repeat(docs, tfs)
        pdocs, pfreq = self._live(*np.unique(
            docs_rep[cell.payloads() == np.uint8(q.payload)],
            return_counts=True))
        if pdocs.size == 0:
            return np.empty(0, np.int64), np.empty(0, np.float32)
        self.metrics.docs_scored += int(pdocs.size)
        self.metrics.docs_total += int(pdocs.size)
        return pdocs, self._phrase_weighted(q, pfreq,
                                            self._norms_at(q.term, pdocs))

    def _spanfirst_scores(self, q: SpanFirst
                          ) -> tuple[np.ndarray, np.ndarray]:
        """SpanFirst matcher — the pinned spec lives on the SpanFirst
        dataclass: freq = positions of ``match`` strictly below ``end``,
        phrase-weighted. One posting cell, no packing needed."""
        if q.match not in self.cells:
            return np.empty(0, np.int64), np.empty(0, np.float32)
        docs, tfs, _, pos = self._positional(
            [q.match], "SpanFirst query", pack=False)[q.match]
        pdocs, pfreq = self._live(*np.unique(np.repeat(docs, tfs)[pos < q.end],
                                             return_counts=True))
        if pdocs.size == 0:
            return np.empty(0, np.int64), np.empty(0, np.float32)
        self.metrics.docs_scored += int(pdocs.size)
        self.metrics.docs_total += int(pdocs.size)
        return pdocs, self._phrase_weighted(q, pfreq,
                                            self._norms_at(q.match, pdocs))

    # ---- generic clause scoring (phrase-aware booleans) -----------------

    def _clause_scores(self, c: Query) -> tuple[np.ndarray, np.ndarray]:
        """(docs, float32 scores) for one boolean clause of any type."""
        if isinstance(c, Term):
            return self._term_scores(c.term, c.boost)
        if isinstance(c, Synonym):
            return self._synonym_scores(c)
        if isinstance(c, MultiPhrase):
            return self._multiphrase_scores(c)
        if isinstance(c, Phrase):
            return self._phrase_scores(c)
        if isinstance(c, Within):
            return self._within_scores(c)
        if isinstance(c, SpanFirst):
            return self._spanfirst_scores(c)
        if isinstance(c, PayloadScore):
            return self._payload_scores(c)
        if isinstance(c, PayloadCheck):
            return self._payloadcheck_scores(c)
        if isinstance(c, Span):
            return self._span_scores(c)
        if isinstance(c, And):
            return self._eval_and(c)
        if isinstance(c, Or):
            return self._eval_or(c, k=np.iinfo(np.int32).max)
        if isinstance(c, DisMax):
            return self._eval_dismax(c)
        if isinstance(c, ConstantScore):
            docs, _ = self._clause_scores(c.child)
            return docs, np.full(docs.size, np.float32(c.boost),
                                 dtype=np.float32)
        if isinstance(c, Filtered):
            d_p, s_p = self._clause_scores(c.positive)
            d_f, _ = self._clause_scores(c.filter)
            keep = np.isin(d_p, d_f, assume_unique=True)
            return d_p[keep], s_p[keep]
        if isinstance(c, Not):
            # ReqExclScorer as a nested clause (top-level Not is split off
            # before scoring; this makes Not composable anywhere)
            d_p, s_p = self._clause_scores(c.positive)
            d_n, _ = self._clause_scores(c.negative)
            keep = ~np.isin(d_p, d_n, assume_unique=True)
            return d_p[keep], s_p[keep]
        if isinstance(c, MatchNoDocs):
            return np.empty(0, np.int64), np.empty(0, np.float32)
        if isinstance(c, MatchAllDocs):
            raise TypeError(
                "MatchAllDocs requires doc-universe iteration — supported "
                "standalone / under Not / inside And (search() handles "
                "these), not as a bare scored clause")
        raise TypeError(f"unsupported clause {type(c)}")  # pragma: no cover

    def _eval_dismax(self, q: DisMax) -> tuple[np.ndarray, np.ndarray]:
        """DisjunctionMaxScorer: max clause score + tiebreak * rest."""
        parts = [self._clause_scores(c) for c in q.clauses]
        nonempty = [(d, s) for d, s in parts if d.size]
        if not nonempty:
            return np.empty(0, np.int64), np.empty(0, np.float32)
        docs = np.unique(np.concatenate([d for d, _ in nonempty]))
        mx = np.full(docs.size, -np.inf, dtype=np.float64)
        total = np.zeros(docs.size, dtype=np.float64)
        for d, s in nonempty:
            idx = np.searchsorted(docs, d)
            s64 = s.astype(np.float64)
            np.maximum.at(mx, idx, s64)
            total[idx] += s64
        score = mx + q.tiebreak * (total - mx)
        return docs, score.astype(np.float32)

    # ---- AND: df-ascending intersection --------------------------------

    def _eval_and(self, q: And) -> tuple[np.ndarray, np.ndarray]:
        if not all(isinstance(c, Term) and c.boost == 1.0 for c in q.clauses):
            return self._and_generic(q)
        terms = sorted({t for c in q.clauses for t in c.terms()})
        if not terms:
            return np.empty(0, np.int64), np.empty(0, np.float32)
        by_df = sorted(terms, key=lambda t: self.stats.term_stats[t].df)
        docs = self._filtered(by_df[0])[0]
        for t in by_df[1:]:
            if docs.size == 0:
                return np.empty(0, np.int64), np.empty(0, np.float32)
            other = self._filtered(t)[0]
            docs = docs[np.isin(docs, other, assume_unique=True)]
        if docs.size == 0:
            return docs, np.empty(0, np.float32)
        total = np.zeros(docs.size, dtype=np.float64)
        for t in sorted(terms):  # oracle-order accumulation
            tdocs, ttfs, tnorms = self._filtered(t)
            pos = np.searchsorted(tdocs, docs)
            total += self._score_arrays(t, ttfs[pos], tnorms[pos]).astype(np.float64)
        return docs, total.astype(np.float32)

    def _and_generic(self, q: And) -> tuple[np.ndarray, np.ndarray]:
        """AND over mixed clause types (phrases, nested booleans):
        per-clause scores, intersect doc sets, repr-sorted accumulation
        (the brute-force oracle's order — bit-identical sums).
        MatchAllDocs MUST clauses restrict nothing and add their constant
        boost to every surviving doc (MatchAllDocsQuery-in-conjunction)."""
        ma_boost = sum(float(np.float32(c.boost)) for c in q.clauses
                       if isinstance(c, MatchAllDocs))
        clauses = [c for c in q.clauses if not isinstance(c, MatchAllDocs)]
        if not clauses:
            raise TypeError("And of only MatchAllDocs needs the doc "
                            "universe — handled by search(), not the "
                            "range scorer")
        parts = [(repr(c), self._clause_scores(c)) for c in clauses]
        docs = None
        for _, (d, _s) in parts:
            docs = d if docs is None else docs[np.isin(docs, d,
                                                       assume_unique=True)]
            if docs.size == 0:
                return np.empty(0, np.int64), np.empty(0, np.float32)
        total = np.zeros(docs.size, dtype=np.float64)
        for _, (d, s) in sorted(parts, key=lambda x: x[0]):
            idx = np.searchsorted(d, docs)
            total += s[idx].astype(np.float64)
        if ma_boost:
            total += ma_boost  # added LAST — mirrors oracle sum(...) + c
        return docs, total.astype(np.float32)

    # ---- OR: MAXSCORE ---------------------------------------------------

    def _eval_or(self, q: Or, k: int) -> tuple[np.ndarray, np.ndarray]:
        if not all(isinstance(c, Term) and c.boost == 1.0 for c in q.clauses):
            return self._or_generic(q)
        terms = sorted({t for c in q.clauses for t in c.terms()})
        terms = [t for t in terms if t in self.cells]
        if not terms:
            return np.empty(0, np.int64), np.empty(0, np.float32)
        msm = q.min_should_match
        if (not self.prune or msm > 1 or len(terms) == 1
                or self._after is not None):
            # exhaustive: term-sorted accumulation (terms is sorted)
            return _union_sum([self._term_scores(t) for t in terms], msm)

        term_ub = {t: float(self._block_ubs(t, self.cells[t]).max(initial=0.0))
                   for t in terms}
        by_ub = sorted(terms, key=lambda t: term_ub[t])  # ascending
        # seed θ from the strongest term's own scores (valid lower bound)
        seed = by_ub[-1]
        sdocs, sscores = self._term_scores(seed)
        theta = 0.0
        if sdocs.size >= k:
            theta = float(_take_topk(sdocs, sscores, k)[1][k - 1])
        # strict <: prefix == θ can still tie into the top-k on doc_id
        prefix = np.cumsum([term_ub[t] for t in by_ub])
        n_noness = int(np.searchsorted(prefix, theta, side="left"))
        essential = set(by_ub[n_noness:])
        essential.add(seed)
        non_essential = [t for t in by_ub[:n_noness] if t != seed]

        # score essential terms fully; accumulate per-doc partials
        acc: dict[str, tuple[np.ndarray, np.ndarray]] = {seed: (sdocs, sscores)}
        for t in sorted(essential - {seed}):
            acc[t] = self._term_scores(t)
        if not non_essential:
            # every term is scored in full: the union is the exhaustive
            # sum (same order, same bits), with no candidate pass
            return _union_sum([acc[t] for t in terms], 1)
        cand = np.unique(np.concatenate([d for d, _ in acc.values()])) \
            if acc else np.empty(0, np.int64)
        partial = np.zeros(cand.size, dtype=np.float64)
        for t in sorted(acc):  # oracle-order accumulation (stage 1)
            d, s = acc[t]
            idx = np.searchsorted(cand, d)
            partial[idx] += s.astype(np.float64)
        # prune candidates that cannot reach θ even with all non-essential
        rest_ub = float(sum(term_ub[t] for t in non_essential))
        if cand.size > k:
            keep = partial + rest_ub >= theta  # >= : ties stay competitive
            if keep.sum() < k:
                top_idx = np.argpartition(-partial, k - 1)[:k]
                keep[top_idx] = True
            cand, partial = cand[keep], partial[keep]
        # probe non-essential terms for surviving candidates only
        probe_scores: dict[str, tuple[np.ndarray, np.ndarray]] = {}
        for t in non_essential:
            d, s = self._probe(t, cand)
            probe_scores[t] = (d, s)
        # re-accumulate in global sorted-term order for bit-parity
        total = np.zeros(cand.size, dtype=np.float64)
        for t in sorted(set(acc) | set(probe_scores)):
            d, s = acc.get(t, probe_scores.get(t))
            mask = np.isin(d, cand, assume_unique=True)
            d2, s2 = d[mask], s[mask]
            # a term's docs are unique, so an indexed += adds each once
            total[np.searchsorted(cand, d2)] += s2.astype(np.float64)
        return cand, total.astype(np.float32)

    def _or_generic(self, q: Or) -> tuple[np.ndarray, np.ndarray]:
        """OR over mixed clause types: union with repr-sorted summing and
        minimumShouldMatch counting (exhaustive — pruning needs term-only
        clauses)."""
        parts = [(repr(c), self._clause_scores(c)) for c in q.clauses]
        return _union_sum([ds for _, ds in sorted(parts, key=lambda x: x[0])],
                          q.min_should_match)

    def _probe(self, term: str, candidates: np.ndarray
               ) -> tuple[np.ndarray, np.ndarray]:
        """Scores of ``term`` restricted to candidate docs, gathering and
        scoring only the blocks that can contain them (skip-list analog:
        searchsorted on block last_doc)."""
        cell = self.cells.get(term)
        if cell is None or candidates.size == 0:
            return np.empty(0, np.int64), np.empty(0, np.float32)
        need = np.unique(np.searchsorted(cell.block_last, candidates))
        need = need[need < cell.block_last.size]
        self.metrics.blocks_skipped += int(cell.block_last.size - need.size)
        d, t, nb = _block_rows((*cell.decode(), cell.norms()), need)
        m = np.isin(d, candidates, assume_unique=True)
        d, t, nb = self._live(d[m], t[m], nb[m])
        if d.size == 0:
            return d, np.empty(0, np.float32)
        return d, self._score_arrays(term, t, nb)


def _block_rows(cols: tuple[np.ndarray, ...], blocks: np.ndarray
                ) -> list[np.ndarray]:
    """The postings of ``blocks`` (128-posting block numbers) in each of
    the aligned ``cols``, block by block. Complete blocks are rows of a
    zero-copy (blocks, 128) view, so a gather copies whole rows; the
    partial last block, when asked for, is appended as a slice."""
    n = cols[0].size
    full = n // BLOCK_SIZE
    inner = blocks[blocks < full]
    out = [c[:full * BLOCK_SIZE].reshape(full, BLOCK_SIZE)
           .take(inner, axis=0).ravel() for c in cols]
    if inner.size < blocks.size:
        out = [np.concatenate((o, c[full * BLOCK_SIZE:]))
               for o, c in zip(out, cols)]
    return out


def _kth_floor(scores: np.ndarray, k: int) -> np.float32 | None:
    """A lower bound on the kth best of ``scores`` (0 < k <= size), read
    off the maxima of its 128-score chunks: the k chunks with the best
    maxima each hold a score >= the kth best maximum. None when fewer
    than k chunks are full or a chunk maximum is NaN."""
    full = scores.size // BLOCK_SIZE
    if full < k:
        return None
    m = scores[:full * BLOCK_SIZE].reshape(full, BLOCK_SIZE).max(axis=1)
    if np.isnan(m).any():
        return None
    return np.partition(m, full - k)[full - k]


def _take_topk(docs: np.ndarray, scores: np.ndarray, k: int
               ) -> tuple[np.ndarray, np.ndarray]:
    """Exact (score desc, doc_id asc) top-k. A chunk-maxima floor
    (:func:`_kth_floor`) first drops scores that cannot reach the top k;
    ``np.partition`` then finds the kth best score, and only the hits
    scoring at least that (all its ties included) are lexsorted. A NaN
    kth score (fewer than k comparable scores) sorts everything."""
    if 0 < k < docs.size:
        floor = _kth_floor(scores, k)
        if floor is not None:
            keep = scores >= floor
            docs, scores = docs[keep], scores[keep]
    neg = -scores.astype(np.float64)
    if 0 < k < docs.size:
        kth = np.partition(neg, k - 1)[k - 1]
        if not np.isnan(kth):
            keep = neg <= kth
            docs, scores, neg = docs[keep], scores[keep], neg[keep]
    order = np.lexsort((docs, neg))[:k]
    return docs[order], scores[order]


def _union_sum(parts: list[tuple[np.ndarray, np.ndarray]], msm: int
               ) -> tuple[np.ndarray, np.ndarray]:
    """Union of (docs, float32 scores) parts, summed per doc in a float64
    accumulator in the given part order (the oracle's order, so sums are
    bit-identical); docs matched by fewer than ``msm`` parts drop out
    (minimumShouldMatch). When the parts' doc-id span is at most 4x
    their posting count (always so inside a dense doc range) the sums
    and counts go into arrays over [min, max] and the docs are read off
    them; a sparse span keeps the sort-based union."""
    parts = [(d, s) for d, s in parts if d.size]
    if not parts:
        return np.empty(0, np.int64), np.empty(0, np.float32)
    lo = min(int(d.min()) for d, _ in parts)
    span = max(int(d.max()) for d, _ in parts) - lo + 1
    if span <= 4 * sum(d.size for d, _ in parts):
        total = np.zeros(span, dtype=np.float64)
        count = np.zeros(span, dtype=np.int32)
        for d, s in parts:
            i = d - lo
            total[i] += s.astype(np.float64)
            count[i] += 1
        hit = np.flatnonzero(count >= max(msm, 1))
        return hit + lo, total[hit].astype(np.float32)
    docs = np.unique(np.concatenate([d for d, _ in parts]))
    total = np.zeros(docs.size, dtype=np.float64)
    count = np.zeros(docs.size, dtype=np.int64)
    for d, s in parts:
        idx = np.searchsorted(docs, d)
        total[idx] += s.astype(np.float64)
        count[idx] += 1
    if msm > 1:
        m = count >= msm
        docs, total = docs[m], total[m]
    return docs, total.astype(np.float32)


def _in_docs(entry: tuple[np.ndarray, ...], cand: np.ndarray
             ) -> tuple[np.ndarray, np.ndarray]:
    """(doc, position) of every occurrence of a decoded term
    (:meth:`RangeScorer._positional`) inside the candidate docs."""
    docs, tfs, _, pos = entry
    rep = np.repeat(docs, tfs)
    m = np.isin(rep, cand)
    return rep[m], pos[m]


def _slot_keys(entry: tuple[np.ndarray, ...], cand: np.ndarray, off: int
               ) -> np.ndarray:
    """Packed uint64 (doc << 32 | base) keys of a phrase slot at offset
    ``off``: base = position - off, for occurrences in candidate docs."""
    d, p = _in_docs(entry, cand)
    ok = p >= off
    return ((d[ok].astype(np.uint64) << np.uint64(32))
            | (p[ok] - off).astype(np.uint64))
