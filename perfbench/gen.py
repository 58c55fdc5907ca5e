"""Seeded input generators: corpora, query streams and micro-batches.

Every input the benchmark feeds the engine comes from here and is a pure
function of the ``--seed`` argument. Each generator draws from its own
stream ``default_rng([seed, STREAM_ID])`` so that, for example, changing
how many queries a run needs never changes the corpus.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from sparklucene.analysis import ENGLISH_STOP_WORDS
from sparklucene.query import And, Not, Or, Phrase, Prefix, Term

# stream ids: one per generator, fixed forever (changing one re-seeds it)
S_VOCAB, S_CORPUS, S_QUERIES, S_WARM, S_BATCH, S_DELETES, S_ORDER = range(7)


@dataclass(frozen=True)
class ZipfSpec:
    """A synthetic corpus model: Zipf term ranks, lognormal doc lengths."""
    n_docs: int
    vocab_size: int
    exponent: float
    mean_len: float
    len_sigma: float = 0.5
    min_len: int = 5
    max_len: int = 400


@dataclass
class Corpus:
    """A generated corpus: the parquet-ready table plus the token stream
    it was rendered from (kept for bigram sampling and corpus facts)."""
    table: pa.Table          # doc_id long, content string
    vocab: np.ndarray        # object[str], index = Zipf rank
    tokens: np.ndarray       # int32 vocab index per token, doc-major
    offsets: np.ndarray      # int64[n_docs + 1] into tokens

    @property
    def n_docs(self) -> int:
        return self.table.num_rows

    def content_bytes(self) -> int:
        return int(pc.sum(pc.binary_length(self.table["content"])).as_py()
                   or 0)

    def doc_freqs(self) -> np.ndarray:
        """df per vocab index (exact, from the token stream)."""
        doc_of = np.repeat(np.arange(self.n_docs, dtype=np.int64),
                           np.diff(self.offsets))
        pairs = np.unique(doc_of * len(self.vocab) + self.tokens)
        return np.bincount(pairs % len(self.vocab),
                           minlength=len(self.vocab))


def _rng(seed: int, stream: int, *extra: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), stream, *extra])


#: word length by rank (cycled): 3..10 letters
WORD_LENGTHS = (5, 3, 7, 4, 9, 6, 10, 8)


def make_vocab(seed: int, size: int) -> np.ndarray:
    """``size`` distinct lowercase words (3..10 letters, no stopwords)."""
    rng = _rng(seed, S_VOCAB)
    seen: set[str] = set()
    out: list[str] = []
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    while len(out) < size:
        # the word length is a fixed function of the rank, so the corpus
        # byte size (the index-size denominator) does not move with the
        # seed; only the letters do
        ln = WORD_LENGTHS[len(out) % len(WORD_LENGTHS)]
        w = "".join(letters[rng.integers(0, 26, size=ln)])
        if w not in seen and w not in ENGLISH_STOP_WORDS:
            seen.add(w)
            out.append(w)
    return np.asarray(out, dtype=object)


def render(vocab: np.ndarray, tokens: np.ndarray, offsets: np.ndarray,
           first_doc_id: int) -> pa.Table:
    """Token ids -> space-joined content strings, all in Arrow kernels."""
    words = pa.DictionaryArray.from_arrays(
        pa.array(tokens, type=pa.int32()),
        pa.array(vocab.tolist(), type=pa.string())).cast(pa.string())
    docs = pa.ListArray.from_arrays(pa.array(offsets, type=pa.int32()),
                                    words)
    n = len(offsets) - 1
    return pa.table({
        "doc_id": pa.array(np.arange(first_doc_id, first_doc_id + n,
                                     dtype=np.int64)),
        "content": pc.binary_join(docs, " "),
    })


def _lengths(rng: np.random.Generator, spec: ZipfSpec, n: int) -> np.ndarray:
    raw = rng.lognormal(np.log(spec.mean_len), spec.len_sigma, size=n)
    return np.clip(raw.astype(np.int64), spec.min_len, spec.max_len)


def zipf_docs(seed: int, spec: ZipfSpec, vocab: np.ndarray, n_docs: int,
              first_doc_id: int, *stream: int) -> Corpus:
    """``n_docs`` docs drawn from ``spec``'s Zipf model on ``stream``."""
    rng = _rng(seed, *stream) if stream else _rng(seed, S_CORPUS)
    lens = _lengths(rng, spec, n_docs)
    offsets = np.concatenate(([0], np.cumsum(lens)))
    ranks = np.arange(1, len(vocab) + 1, dtype=np.float64)
    cdf = np.cumsum(ranks ** -spec.exponent)
    cdf /= cdf[-1]
    tokens = np.searchsorted(cdf, rng.random(int(offsets[-1])),
                             side="right").astype(np.int32)
    np.minimum(tokens, len(vocab) - 1, out=tokens)
    return Corpus(render(vocab, tokens, offsets, first_doc_id), vocab,
                  tokens, offsets)


def zipf_corpus(seed: int, spec: ZipfSpec, *stream: int) -> Corpus:
    """The base corpus; workloads sharing a seed pass distinct
    ``stream`` ids so their corpora differ."""
    return zipf_docs(seed, spec, make_vocab(seed, spec.vocab_size),
                     spec.n_docs, 0, S_CORPUS, *stream)


# ---- dense corpus: the shape of the sf0.1 documents table ----------------
#: the 29 non-stopword words of the sf0.1 ``documents`` text (plus the two
#: stopwords it also draws), sampled uniformly per token; ``dup`` is added
#: to 5 % of docs. Every word then sits in ~80 % of docs.
DENSE_WORDS = (
    "stream value spark data big small vector group slow table key column "
    "window scan order hash merge row customer join fast filter a the line "
    "part sort query batch agg").split()
DENSE_RARE = "dup"


def dense_corpus(seed: int, n_docs: int, min_len: int = 14,
                 max_len: int = 94) -> Corpus:
    rng = _rng(seed, S_CORPUS)
    vocab = np.asarray(DENSE_WORDS + [DENSE_RARE], dtype=object)
    lens = rng.integers(min_len, max_len + 1, size=n_docs)
    has_dup = rng.random(n_docs) < 0.05
    lens = lens + has_dup
    offsets = np.concatenate(([0], np.cumsum(lens)))
    tokens = rng.integers(0, len(DENSE_WORDS),
                          size=int(offsets[-1])).astype(np.int32)
    # the rare word replaces the first token of its docs
    tokens[offsets[:-1][has_dup]] = len(DENSE_WORDS)
    return Corpus(render(vocab, tokens, offsets, 0), vocab, tokens, offsets)


# ---- query streams -------------------------------------------------------
#: bench.py's ten headline shapes, copied so the benchmark does not import
#: bench.py (which reads the testdata directory at import time)
DENSE_QUERIES = {
    "q1_term": Term("vector"),
    "q2_and_hi_hi": And((Term("merge"), Term("join"))),
    "q3_and_3": And((Term("hash"), Term("join"), Term("batch"))),
    "q4_or_hi_hi": Or((Term("spark"), Term("merge"), Term("join"))),
    "q5_or_wide": Or((Term("query"), Term("window"), Term("scan"),
                      Term("fast"), Term("column"))),
    "q6_not": Not(Or((Term("spark"), Term("merge"))), Term("slow")),
    "q7_msm2": Or((Term("vector"), Term("stream"), Term("agg")),
                  min_should_match=2),
    "q8_or_rare_common": Or((Term("dup"), Term("slow"))),
    "q9_phrase": Phrase(((0, "fast"), (1, "merge"))),
    "q10_prefix_clause": And((Prefix("sc"), Term("merge"))),
}


def dense_stream(seed: int, n: int, stream: int = S_QUERIES
                 ) -> list[tuple[str, object]]:
    """``n`` queries cycling through seeded permutations of the ten
    shapes; names carry a sequence number so every call is distinct."""
    rng = _rng(seed, stream)
    names = sorted(DENSE_QUERIES)
    out: list[tuple[str, object]] = []
    while len(out) < n:
        for i in rng.permutation(len(names)):
            out.append((f"{len(out)}:{names[i]}", DENSE_QUERIES[names[i]]))
    return out[:n]


#: the selective query mix, as a fixed cycle of shapes: every run sees
#: the same mix, so per-run medians do not move with the share of each
#: shape
#: selective query terms skip the top ranks (the near-stopwords)
MIN_RANK = 20
SELECTIVE_CYCLE = ("term", "and", "or", "not", "msm", "phrase", "prefix",
               "term", "and", "or")


def selective_stream(seed: int, corpus: Corpus, n: int,
                     stream: int = S_QUERIES) -> list[tuple[str, object]]:
    """``n`` distinct queries over ``corpus``, shapes in SELECTIVE_CYCLE
    order. Term ranks are log-uniform in [MIN_RANK, vocabulary / 2) —
    Zipf-style, past the top ranks, so most clauses are selective.
    Phrases are bigrams read from the corpus."""
    rng = _rng(seed, stream)
    v = len(corpus.vocab)
    hi = v // 2
    def term() -> str:
        r = int(np.exp(rng.uniform(np.log(MIN_RANK), np.log(hi))))
        return str(corpus.vocab[min(r, v - 1)])

    def terms(k: int) -> tuple:
        ts: list[str] = []
        while len(ts) < k:
            t = term()
            if t not in ts:
                ts.append(t)
        return tuple(Term(t) for t in ts)

    def bigram() -> Phrase:
        lens = np.diff(corpus.offsets)
        while True:
            d = int(rng.integers(0, corpus.n_docs))
            if lens[d] >= 2:
                break
        i = int(corpus.offsets[d] + rng.integers(0, lens[d] - 1))
        a, b = corpus.vocab[corpus.tokens[i:i + 2]]
        return Phrase(((0, str(a)), (1, str(b))))

    seen: set[str] = set()
    out: list[tuple[str, object]] = []
    while len(out) < n:
        shape = SELECTIVE_CYCLE[len(out) % len(SELECTIVE_CYCLE)]
        if shape == "term":
            q = Term(term())
        elif shape == "and":
            q = And(terms(2))
        elif shape == "or":
            q = Or(terms(3))
        elif shape == "not":
            a, b, c = terms(3)
            q = Not(Or((a, b)), c)
        elif shape == "msm":
            q = Or(terms(3), min_should_match=2)
        elif shape == "phrase":
            q = bigram()
        else:
            q = And((Prefix(term()[:3]), Term(term())))
        key = repr(q)
        if key in seen:
            continue
        seen.add(key)
        out.append((f"{len(out)}:{shape}", q))
    return out


def micro_batch(seed: int, spec: ZipfSpec, vocab: np.ndarray, index: int,
                first_doc_id: int, size: int) -> Corpus:
    """Append batch ``index``: ``size`` new docs with ids from
    ``first_doc_id``, drawn from the same model on its own stream."""
    return zipf_docs(seed, spec, vocab, size, first_doc_id, S_BATCH, index)


def delete_ids(seed: int, index: int, lo: int, hi: int, n: int) -> list[int]:
    """``n`` distinct doc ids in [lo, hi) for delete round ``index``."""
    rng = _rng(seed, S_DELETES, index)
    return sorted(int(x) for x in rng.choice(hi - lo, size=n,
                                             replace=False) + lo)


def corpus_facts(corpus: Corpus, queries) -> dict:
    """Docs, vocabulary size and the df of the median and top query
    terms — printed so a reader can see what a workload exercises."""
    df = corpus.doc_freqs()
    index = {str(w): i for i, w in enumerate(corpus.vocab)}
    qdf = sorted(int(df[index[t]]) for _, q in queries
                 for t in q.terms() if t in index)
    return {"docs": corpus.n_docs, "vocab": int((df > 0).sum()),
            "tokens": int(corpus.offsets[-1]),
            "query_term_df_median": qdf[len(qdf) // 2] if qdf else 0,
            "query_term_df_top": qdf[-1] if qdf else 0}
