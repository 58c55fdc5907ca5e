"""End-to-end Spark engine tests — build, search, resume, skew, control.

Implements the reference test strategy mapped in SURVEY.md §5:
distributed-vs-control (BaseDistributedSearchTestCase), WAND on/off
equivalence, salted == unsalted merge, per-partition resume, and the
sha256(content) per-row invariant (BASELINE.json input_hint).
"""

import glob
import json
import os
import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from sparklucene.build import IndexPaths, build_index, invert, load_stats
from sparklucene.corpus import load_corpus
from sparklucene.oracle import build_oracle_index, search_oracle
from sparklucene.query import parse
from sparklucene.search import Index, search

SF = "/root/testdata/sf0.001"
IDX_DIR = "/root/repo/.cache/test-index"

QUERY_SET = [
    "merge",                              # single mid-df term
    "customer",                           # another term
    "merge join",                         # OR
    "table scan filter window small",     # 5-term OR (WAND stress)
    "+merge +join",                       # AND
    "+table +scan +filter",               # 3-term AND
    "merge -join",                        # NOT
    "zzz_absent_term",                    # empty
    "the of and",                         # all stopwords -> empty
]


@pytest.fixture(scope="module")
def built(spark):
    shutil.rmtree(IDX_DIR, ignore_errors=True)
    corpus = load_corpus(spark, SF)
    stats = build_index(spark, corpus, IDX_DIR, drange_size=128)
    return Index(spark, IDX_DIR), corpus, stats


@pytest.fixture(scope="module")
def oidx(corpus_pdf):
    return build_oracle_index(corpus_pdf)


def test_global_stats_match_oracle(built, oidx):
    _, _, stats = built
    assert stats["doc_count"] == oidx.doc_count
    assert stats["sum_dl"] == oidx.sum_dl
    assert stats["n_docs"] == oidx.doc_ids.size


def test_index_invariants(built, spark, oidx):
    idx, _, _ = built
    # FIXTURES.md §6.2: sum(df) == distinct (term, doc) pairs
    total_df = idx.termstats().agg(F.sum("df")).collect()[0][0]
    assert total_df == len(oidx.tf)
    # sum(cf) == sumTotalTermFreq == sum(dl)
    total_cf = idx.termstats().agg(F.sum("cf")).collect()[0][0]
    assert total_cf == oidx.sum_dl
    # docmeta matches oracle norms
    meta = idx.docmeta().orderBy("doc_id").toPandas()
    assert (meta["dl"].to_numpy() == oidx.dl).all()
    assert (meta["norm"].to_numpy().astype(np.uint8) == oidx.norm_bytes).all()


@pytest.mark.parametrize("mode", ["lucene8", "f64"])
def test_rank_identical_vs_oracle(built, oidx, mode):
    idx, _, _ = built
    for qs in QUERY_SET:
        got = search(idx, qs, k=10, mode=mode).toPandas()
        want = search_oracle(oidx, parse(qs), k=10, mode=mode)
        assert got["doc_id"].tolist() == want["doc_id"].tolist(), (qs, mode)
        assert (got["score"].to_numpy() ==
                want["score"].to_numpy().astype(np.float64)).all(), (qs, mode)


def test_wand_on_equals_off(built):
    idx, _, _ = built
    for qs in ["table scan filter window small", "merge join"]:
        on = search(idx, qs, k=10, prune=True).toPandas()
        off = search(idx, qs, k=10, prune=False).toPandas()
        assert on["doc_id"].tolist() == off["doc_id"].tolist()
        assert (on["score"].to_numpy() == off["score"].to_numpy()).all()


def test_distributed_vs_control(spark, built, oidx):
    """Solr's 1-node-control vs N-shard pattern: 1 doc range vs many."""
    idx_many, _, _ = built
    ctl_dir = "/root/repo/.cache/test-index-control"
    shutil.rmtree(ctl_dir, ignore_errors=True)
    corpus = load_corpus(spark, SF)
    build_index(spark, corpus, ctl_dir, drange_size=1 << 20)  # single range
    idx_one = Index(spark, ctl_dir)
    assert load_stats(ctl_dir)["doc_count"] == oidx.doc_count
    for qs in QUERY_SET:
        a = search(idx_many, qs, k=10).toPandas()
        b = search(idx_one, qs, k=10).toPandas()
        assert a["doc_id"].tolist() == b["doc_id"].tolist(), qs
        assert (a["score"].to_numpy() == b["score"].to_numpy()).all(), qs


def test_salted_equals_unsalted(spark, built):
    idx, corpus, _ = built
    salted_dir = "/root/repo/.cache/test-index-salted"
    shutil.rmtree(salted_dir, ignore_errors=True)
    build_index(spark, corpus, salted_dir, drange_size=128, salt=4)
    a = idx.termstats().orderBy("term").toPandas()
    b = Index(spark, salted_dir).termstats().orderBy("term").toPandas()
    assert a["term"].tolist() == b["term"].tolist()
    assert (a["df"].to_numpy() == b["df"].to_numpy()).all()
    assert (a["cf"].to_numpy() == b["cf"].to_numpy()).all()


def test_resume_skips_completed_partitions(spark, built):
    _, corpus, _ = built
    paths = IndexPaths(IDX_DIR)
    # re-run invert: everything checkpointed -> all skipped
    manifest = invert(corpus, paths, drange_size=128, resume=True)
    assert (manifest["status"] == "skipped").all()
    # kill one partition's checkpoint -> only that one rebuilds. Fresh
    # manifests live as part-*.json until merge() folds them into the
    # compacted log, so the victim may be in either place.
    from sparklucene.build import _manifests, compact_manifests

    victims = sorted(glob.glob(os.path.join(paths.manifest_dir, "part-*.json")))
    if victims:
        with open(victims[0]) as fh:
            victim_range = json.load(fh)["drange"]
        os.remove(victims[0])
    else:
        recs = _manifests(paths)
        victim_range = sorted(recs)[0]
        del recs[victim_range]
        comp = os.path.join(paths.manifest_dir, "_compacted.jsonl")
        with open(comp, "w") as fh:
            for dr in sorted(recs):
                fh.write(json.dumps(recs[dr]) + "\n")
    manifest2 = invert(corpus, paths, drange_size=128, resume=True)
    rebuilt = manifest2[manifest2["status"] == "built"]
    assert rebuilt["drange"].tolist() == [victim_range]
    assert (manifest2["status"] == "skipped").sum() == len(manifest) - 1


def test_hydration_and_sha_invariant(spark, built):
    """Two-phase fetch + BASELINE input_hint: sha256(content) preserved."""
    idx, corpus, _ = built
    got = search(idx, "merge join", k=5, hydrate=corpus).toPandas()
    assert {"doc_id", "score", "repo", "path", "lang"} <= set(got.columns)
    assert len(got) == 5
    # commit column was derived as sha256(content)[:40] at load; re-derive
    chk = (corpus.withColumn("sha", F.sha2(F.col("content"), 256).substr(1, 40))
           .filter(F.col("commit") != F.col("sha")).count())
    assert chk == 0


def test_query_elevation(built):
    """QueryElevationComponent semantics: forced order, exclusion, score
    provenance, rank column, and the no-editorial degenerate case."""
    from sparklucene.query import Or, Term
    from sparklucene.search import elevate

    idx, _, _ = built
    q = Or((Term("merge"), Term("spark")))
    base = search(idx, q, k=12, mode="f64").toPandas()
    top0 = int(base["doc_id"].iloc[0])

    out = elevate(idx, q, elevated=(451, 17), excluded=(top0,),
                  k=10, mode="f64").toPandas()
    assert out["doc_id"].tolist()[:2] == [451, 17]
    assert out["elevated"].tolist() == [1, 1] + [0] * 8
    assert out["rank"].tolist() == list(range(10))
    assert top0 not in out["doc_id"].tolist()
    # organic tail = base order minus editorial ids
    drop = {451, 17, top0}
    want = [d for d in base["doc_id"].tolist() if d not in drop][:8]
    assert out["doc_id"].tolist()[2:] == want
    # elevated docs carry real (>= 0) scores; exact values are gated by
    # the DuckDB oracle in test_driver_contract[query_elevation_topk]
    assert (out["score"] >= 0).all()

    # force-elevation of a doc that cannot match the query -> score 0.0
    out2 = elevate(idx, Term("zzz_absent"), elevated=(5,), k=3,
                   mode="f64").toPandas()
    assert out2["doc_id"].tolist() == [5]
    assert out2["score"].tolist() == [0.0]
    assert out2["elevated"].tolist() == [1]

    # no editorial config degenerates to plain search
    out3 = elevate(idx, q, elevated=(), k=5, mode="f64").toPandas()
    assert out3["doc_id"].tolist() == base["doc_id"].tolist()[:5]
    assert out3["elevated"].tolist() == [0] * 5

    # more elevated ids than k: truncated to k, configured order
    out4 = elevate(idx, q, elevated=(9, 8, 7, 6), k=3, mode="f64").toPandas()
    assert out4["doc_id"].tolist() == [9, 8, 7]


def test_term_vectors_match_forward_analysis(built, corpus_pdf):
    """TermVectorComponent: tv rows equal an independent pandas forward
    pass over the same docs, and (df, cf) match the term dictionary."""
    from sparklucene.analysis import ENGLISH_STOP_WORDS, TOKEN_RE
    from sparklucene.search import term_vectors

    idx, corpus, _ = built
    ids = (7, 123)
    out = term_vectors(idx, corpus, ids).toPandas()
    want = {}
    for _, row in corpus_pdf[corpus_pdf["doc_id"].isin(ids)].iterrows():
        toks = [t for t in TOKEN_RE.findall(row["content"].lower())
                if t not in ENGLISH_STOP_WORDS]
        for t in toks:
            want[(int(row["doc_id"]), t)] = want.get((int(row["doc_id"]), t), 0) + 1
    got = {(int(r.doc_id), r.term): int(r.tf) for r in out.itertuples()}
    assert got == want
    ts = idx.termstats().toPandas().set_index("term")
    for r in out.itertuples():
        assert int(r.df) == int(ts.loc[r.term, "df"])
        assert int(r.cf) == int(ts.loc[r.term, "cf"])


def test_terms_enum_matches_dictionary(built, corpus_pdf):
    """TermsComponent: every filter/sort combination equals an
    independent pandas recomputation over the forward-analyzed corpus."""
    from sparklucene.analysis import ENGLISH_STOP_WORDS, TOKEN_RE
    from sparklucene.search import terms_enum

    idx, _, _ = built
    df_count: dict[str, int] = {}
    cf_count: dict[str, int] = {}
    for _, row in corpus_pdf.iterrows():
        toks = [t for t in TOKEN_RE.findall(row["content"].lower())
                if t not in ENGLISH_STOP_WORDS]
        for t in set(toks):
            df_count[t] = df_count.get(t, 0) + 1
        for t in toks:
            cf_count[t] = cf_count.get(t, 0) + 1

    # prefix + index sort
    got = terms_enum(idx, prefix="s", sort="index", limit=12).toPandas()
    want = sorted(t for t in df_count if t.startswith("s"))[:12]
    assert got["term"].tolist() == want
    assert got["df"].tolist() == [df_count[t] for t in want]

    # bounds (lower inclusive, upper exclusive) + mincount + count sort + ttf
    got = terms_enum(idx, lower="m", upper="n", mincount=3, sort="count",
                     limit=8, ttf=True).toPandas()
    cand = [t for t in df_count
            if "m" <= t < "n" and df_count[t] >= 3]
    want = sorted(cand, key=lambda t: (-df_count[t], t))[:8]
    assert got["term"].tolist() == want
    assert got["cf"].tolist() == [cf_count[t] for t in want]

    # maxcount caps df; regex anchors to the full term
    got = terms_enum(idx, regex="m.rge", maxcount=10**9, limit=5).toPandas()
    assert set(got["term"]) <= {t for t in df_count if len(t) == 5
                                and t[0] == "m" and t[2:] == "rge"}


def test_top_terms_scoring_rewrite(built, oidx):
    """TopTerms (TOP_TERMS_SCORING_BOOLEAN rewrite): the engine result
    equals the oracle scoring of the manually-selected boosted Or under
    the pinned selection spec (boost desc, df desc, term asc)."""
    from sparklucene.query import Fuzzy, Or, Term, TopTerms, Wildcard
    from sparklucene.search import _edit_distance

    idx, _, _ = built

    # pinned Levenshtein helper sanity
    assert _edit_distance("merge", "merge") == 0
    assert _edit_distance("merge", "marge") == 1
    assert _edit_distance("merge", "merged") == 1
    assert _edit_distance("abc", "") == 3

    for q, n in ((Fuzzy("part", max_edits=2), 2),
                 (Wildcard("s*"), 3)):
        cands = idx.expand_terms(q, 1024)
        assert len(cands) > n  # truncation is actually exercised
        if isinstance(q, Fuzzy):
            boosts = {t: 1.0 - _edit_distance(q.term, t)
                      / min(len(q.term), len(t)) for t in cands}
        else:
            boosts = {t: 1.0 for t in cands}
        dfs = {t: s.df for t, s in idx.term_stats_for(cands).items()}
        ranked = sorted(cands, key=lambda t: (-boosts[t], -dfs[t], t))
        manual = Or(tuple(Term(t, boost=boosts[t])
                          for t in sorted(ranked[:n])))
        got = search(idx, TopTerms(q, n=n), k=10, mode="f64").toPandas()
        want = search_oracle(oidx, manual, k=10, mode="f64")
        assert got["doc_id"].tolist() == want["doc_id"].tolist()
        assert (got["score"].to_numpy()
                == want["score"].to_numpy().astype("float64")).all()

    # composes inside booleans, and ranking differs from constant-score
    from sparklucene.query import And
    both = And((TopTerms(Fuzzy("part", max_edits=1), n=3), Term("join")))
    out = search(idx, both, k=5, mode="f64").toPandas()
    assert len(out) > 0
    cs = search(idx, Fuzzy("part", max_edits=2), k=10, mode="f64").toPandas()
    tt = search(idx, TopTerms(Fuzzy("part", max_edits=2), n=2), k=10,
                mode="f64").toPandas()
    assert not np.allclose(np.sort(cs["score"].to_numpy())[::-1],
                           np.sort(tt["score"].to_numpy())[::-1])


def test_no_hit_results_keep_the_hit_schemas(built):
    """The empty result (built only on the MatchNoDocs returns) has the
    schema of a hit result: with and without highlights and hydration,
    for search() and search_batch()."""
    from sparklucene.query import MatchNoDocs
    from sparklucene.search import search_batch

    idx, corpus, _ = built
    for kw in ({}, {"highlight": True}, {"hydrate": corpus},
               {"highlight": True, "hydrate": corpus}):
        hit = search(idx, "merge", k=5, **kw)
        assert hit.count() > 0
        for none in ("zzz_absent_term", MatchNoDocs()):
            out = search(idx, none, k=5, **kw)
            assert out.schema == hit.schema, (kw, none)
            assert out.count() == 0
    hit = search_batch(idx, {"a": "merge"}, k=5)
    out = search_batch(idx, {"a": "zzz_absent_term", "b": MatchNoDocs()},
                       k=5)
    assert out.schema == hit.schema
    assert out.count() == 0


def test_highlight_passages_cover_multi_term_queries(built):
    """highlight_passages plans like search(): a multi-term query's
    expanded terms are highlighted. With every passage kept, each
    winner's n_matches sum to its positions in search(highlight=True)."""
    from sparklucene.query import Prefix, Wildcard
    from sparklucene.search import highlight_passages

    idx = built[0]
    for q in (Prefix("merg"), Wildcard("merg*"), "merg*"):
        pas = highlight_passages(idx, q, k=5, n_passages=10_000).toPandas()
        hl = search(idx, q, k=5, mode="f64", highlight=True).collect()
        want = {r["doc_id"]: sum(len(h["positions"]) for h in r["highlights"])
                for r in hl}
        assert len(want) == 5 and all(want.values()), q
        got = pas.groupby("doc_id")["n_matches"].sum().to_dict()
        assert got == want, q


def test_workers_run_the_stat_keyed_zip_invalidation(spark, built):
    """After an engine job, a Python worker that imports the package runs
    ``sparklucene._zipstat.invalidate_caches`` as the zipimporter method
    (what keeps PySpark's per-task ``importlib.invalidate_caches()`` from
    re-reading pyspark.zip and the Spark jar)."""
    import pyarrow as pa

    def probe(batches):
        import zipimport

        import sparklucene  # noqa: F401

        for _ in batches:
            pass
        fn = zipimport.zipimporter.invalidate_caches
        yield pa.RecordBatch.from_pydict(
            {"fn": [f"{fn.__module__}.{fn.__qualname__}"]})

    rows = spark.range(0, 1, 1, 1).mapInArrow(probe, "fn string").collect()
    assert [r["fn"] for r in rows] == ["sparklucene._zipstat.invalidate_caches"]
