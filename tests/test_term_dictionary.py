"""The driver-held term dictionary: ``Index.term_stats_for`` and the
Prefix / Wildcard / TermRange / TermInSet expansions of
``Index.expand_terms`` answer from the handle's sorted in-memory
termstats — they submit no Spark job, and every result equals a
pure-Python reference over the termstats parquet."""

from __future__ import annotations

import re
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from sparklucene.analysis import AnalyzerConfig
from sparklucene.build import Field, build_index
from sparklucene.query import (FIELD_SEP, Prefix, Regexp, TermInSet,
                               TermRange, Wildcard, field_key)
from sparklucene.search import Index, _TermDictionary

KW = AnalyzerConfig(tokenizer="keyword", stopwords=frozenset())
#: keyword values holding the LIKE metacharacters a Wildcard must treat
#: as literals
TAGS = ("a%b", "a_b", "a\\b", "axb", "a%%b", "ab", "100%", "x_")


@pytest.fixture(scope="module")
def dict_index(spark, corpus_pdf, tmp_path_factory):
    pdf = corpus_pdf.assign(
        tag=[TAGS[i % len(TAGS)] for i in range(len(corpus_pdf))])
    d = str(tmp_path_factory.mktemp("termdict")) + "/idx"
    build_index(spark, spark.createDataFrame(pdf), d, drange_size=128,
                extra_fields=(Field("lang", "lang", KW),
                              Field("tag", "tag", KW)))
    rows = pq.read_table(Index(spark, d).paths.termstats).to_pylist()
    return d, {r["term"]: (r["df"], r["cf"]) for r in rows}


def _jobs(spark, fn):
    """(result, ids of the Spark jobs ``fn`` submitted)."""
    sc = spark.sparkContext
    group = f"termdict-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "term dictionary probe")
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _ref_expand(q, vocab) -> list[str]:
    fk = field_key(q.field, "")
    if isinstance(q, Prefix):
        hit = lambda t: t.startswith(fk + q.prefix)  # noqa: E731
    elif isinstance(q, Wildcard):
        rx = re.compile("".join(".*" if c == "*" else "." if c == "?"
                                else re.escape(c) for c in fk + q.pattern),
                        re.DOTALL)
        hit = lambda t: rx.fullmatch(t) is not None  # noqa: E731
    elif isinstance(q, TermRange):
        def hit(t):
            if not t.startswith(fk):
                return False
            if q.lo is not None and not (t >= fk + q.lo if q.include_lo
                                         else t > fk + q.lo):
                return False
            return q.hi is None or (t <= fk + q.hi if q.include_hi
                                    else t < fk + q.hi)
    else:
        want = {fk + t for t in q.in_terms}
        hit = want.__contains__
    return sorted(t for t in vocab
                  if hit(t) and (fk or FIELD_SEP not in t))


EXPANSIONS = [
    Prefix("s"), Prefix("merge"), Prefix("zzz"), Prefix("e", field="lang"),
    Prefix("a%", field="tag"), Prefix("", field="tag"),
    Wildcard("sp?rk"), Wildcard("*ge"), Wildcard("*"), Wildcard("?a*"),
    Wildcard("s*t"), Wildcard("*%", field="tag"), Wildcard("a%b", field="tag"),
    Wildcard("a_b", field="tag"), Wildcard("a\\b", field="tag"),
    Wildcard("a?b", field="tag"), Wildcard("?_", field="tag"),
    Wildcard("*b", field="tag"),
    TermRange(), TermRange("m", "s"), TermRange("merge", "spark", False, False),
    TermRange("merge", "spark", True, False), TermRange(None, "f"),
    TermRange("t", None), TermRange("t", None, include_lo=False),
    TermRange("s", "m"), TermRange(field="lang"),
    TermRange("de", "es", field="lang"), TermRange(None, "e", field="lang"),
    TermRange("a_b", None, False, field="tag"),
    TermInSet(("merge", "spark", "absent", "merge")),
    TermInSet(("lang" + FIELD_SEP + "en",)), TermInSet(()),
    TermInSet(("en", "xx", "zh"), field="lang"),
]


def test_dictionary_runs_no_spark_job_and_equals_reference(spark, dict_index):
    d, ref = dict_index
    idx = Index(spark, d)  # cold: the dictionary is read inside the group
    qualified = [t for t in ref if FIELD_SEP in t]
    assert any(t.startswith("lang" + FIELD_SEP) for t in qualified)
    probes = ["merge", "spark", "absent-term", "", qualified[0],
              field_key("lang", "xx"), "merge"]

    def run():
        stats = idx.term_stats_for(probes)
        expanded = [idx.expand_terms(q, 10_000) for q in EXPANSIONS]
        return stats, expanded

    (stats, expanded), jobs = _jobs(spark, run)
    assert jobs == []
    assert {t: (s.df, s.cf) for t, s in stats.items()} == {
        t: ref[t] for t in probes if t in ref}
    assert list(stats) == ["merge", "spark", qualified[0]]
    for q, got in zip(EXPANSIONS, expanded):
        assert got == _ref_expand(q, ref), q
    # the wildcard cases are not vacuous: literal metacharacters match
    # only themselves, and `?` / leading `*` do widen
    tag = field_key("tag", "")
    by_q = dict(zip(map(repr, EXPANSIONS), expanded))
    assert by_q[repr(Wildcard("a%b", field="tag"))] == [tag + "a%b"]
    assert by_q[repr(Wildcard("a_b", field="tag"))] == [tag + "a_b"]
    assert by_q[repr(Wildcard("a\\b", field="tag"))] == [tag + "a\\b"]
    assert len(by_q[repr(Wildcard("a?b", field="tag"))]) == 4
    assert len(by_q[repr(Wildcard("*ge"))]) >= 1

    # the probe sees jobs at all: a Regexp still expands in the JVM
    _, jvm_jobs = _jobs(spark, lambda: idx.expand_terms(Regexp("sp.*")))
    assert jvm_jobs


@pytest.mark.parametrize("q", [Prefix(""), Wildcard("*"), TermRange(),
                               TermInSet(("merge", "spark", "table",
                                          "join"))])
def test_dictionary_expansion_overflow_raises(spark, dict_index, q):
    d, _ = dict_index
    idx = Index(spark, d)
    with pytest.raises(ValueError, match="expands to more than 3"):
        idx.expand_terms(q, max_expansions=3)


def test_dictionary_sorts_unsorted_input_and_drops_null_terms():
    terms = ["b", "a", None, "é", "ab", "lang" + FIELD_SEP + "en"]
    d = _TermDictionary(pa.table({
        "term": pa.array(terms, pa.string()),
        "df": pa.array(range(6), pa.int64()),
        "cf": pa.array(range(10, 16), pa.int64())}))
    assert d.terms.to_pylist() == sorted(t for t in terms if t is not None)
    assert [int(d.df[d.find(t)]) for t in ("a", "b", "é")] == [1, 0, 3]
    assert d.find("c") is None and d.find("") is None
    assert d.prefix("a") == (0, 2)
    assert d.prefix("lang" + FIELD_SEP) == (3, 4)
