"""Sharded-collection routing: per-route sub-indexes, shard pruning,
per-shard-stats fan-out merge (Solr implicit routing + LocalStatsCache
default distributed scoring)."""

from __future__ import annotations

import os
import shutil

import pytest

from sparklucene.corpus import load_corpus
from sparklucene.query import Or, Term
from sparklucene.routing import build_routed_index, load_routes, routed_search
from sparklucene.search import Index, search

SF = "/root/testdata/sf0.001"
BASE = "/root/repo/.cache/test-routed"


@pytest.fixture(scope="module")
def routed(spark):
    shutil.rmtree(BASE, ignore_errors=True)
    corpus = load_corpus(spark, SF)
    manifest = build_routed_index(spark, corpus, BASE, route_col="lang",
                                  drange_size=128)
    return corpus, manifest


def test_manifest_covers_corpus(spark, routed):
    corpus, manifest = routed
    assert sum(m["n_docs"] for m in manifest.values()) == corpus.count()
    assert set(load_routes(BASE)["routes"]) == set(manifest)


def test_single_shard_equals_subindex_search(spark, routed):
    q = Or((Term("merge"), Term("spark")))
    got = routed_search(spark, BASE, q, route="en", k=10,
                        mode="f64").toPandas()
    sub = Index(spark, os.path.join(BASE, "route=en"))
    want = search(sub, q, k=10, mode="f64").toPandas()
    assert got["doc_id"].tolist() == want["doc_id"].tolist()
    assert (got["score"].to_numpy() == want["score"].to_numpy()).all()
    assert (got["route"] == "en").all()
    # routed sub-index really is a subset: every hit is an en doc
    corpus, _ = routed
    en_ids = {r.doc_id for r in corpus.filter("lang = 'en'")
              .select("doc_id").collect()}
    assert set(got["doc_id"]) <= en_ids


def test_fanout_merges_per_shard_topk(spark, routed):
    q = Or((Term("merge"), Term("spark")))
    got = routed_search(spark, BASE, q, route=None, k=10,
                        mode="f64").toPandas()
    assert len(got) == 10
    # the merge equals the global top-10 over every shard's full top-10
    frames = []
    for rt in load_routes(BASE)["routes"]:
        sub = search(Index(spark, os.path.join(BASE, f"route={rt}")), q,
                     k=10, mode="f64").toPandas()
        sub["route"] = rt
        frames.append(sub)
    import pandas as pd
    want = (pd.concat(frames)
            .sort_values(["score", "doc_id"], ascending=[False, True],
                         kind="mergesort").head(10).reset_index(drop=True))
    assert got["doc_id"].tolist() == want["doc_id"].tolist()
    assert got["route"].tolist() == want["route"].tolist()


def test_global_stats_fanout_equals_unrouted_index(spark, routed, tmp_path):
    """stats="global" (ExactStatsCache): the fan-out ranks and scores
    exactly like one index over the whole corpus — same ids, same score
    bits — including a term some shards lack and one every shard lacks."""
    from sparklucene.build import build_index
    from sparklucene.query import And

    corpus, _ = routed
    d = str(tmp_path / "whole")
    build_index(spark, corpus, d, drange_size=128)
    whole = Index(spark, d)
    for q in (Or((Term("merge"), Term("spark"))),
              Or((Term("join"), Term("zzqx_absent"), Term("hash"))),
              And((Term("merge"), Term("join"))), Term("spark")):
        got = routed_search(spark, BASE, q, route=None, k=20, mode="f64",
                            stats="global").toPandas()
        want = search(whole, q, k=20, mode="f64").toPandas()
        assert got["doc_id"].tolist() == want["doc_id"].tolist(), str(q)
        assert got["score"].to_numpy().tobytes() == \
            want["score"].to_numpy().tobytes(), str(q)


def test_global_stats_merge_runs_no_spark_job(spark, routed):
    """The per-term df/cf merge sums each shard's driver-held term
    dictionary: no Spark job, the same integers as the shards'
    termstats files, and a term absent from every shard stays absent."""
    import uuid

    import pyarrow.parquet as pq

    from sparklucene.routing import _merged_stats

    dirs = [os.path.join(BASE, info["dir"])
            for info in load_routes(BASE)["routes"].values()]
    terms = ["merge", "spark", "zzqx_absent"]
    sc = spark.sparkContext
    group = f"routed-stats-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "routed stats probe")
    try:
        got = _merged_stats(spark, dirs, terms)
    finally:
        sc.setJobGroup(None, None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    want: dict[str, list[int]] = {}
    for d in dirs:
        for r in pq.read_table(Index(spark, d).paths.termstats).to_pylist():
            if r["term"] in terms:
                acc = want.setdefault(r["term"], [0, 0])
                acc[0] += r["df"]
                acc[1] += r["cf"]
    assert {t: [s.df, s.cf] for t, s in got.term_stats.items()} == want
    assert "zzqx_absent" not in got.term_stats
    assert got.doc_count == sum(
        Index(spark, d).stats["doc_count"] for d in dirs)


def test_unknown_route_raises(spark, routed):
    with pytest.raises(KeyError, match="unknown route"):
        routed_search(spark, BASE, Term("merge"), route="xx")


# --------------------------------------------------------------------------
# distributed faceting with refinement (routed_facet_field)
# --------------------------------------------------------------------------

def test_refined_facet_fixes_naive_merge(spark, tmp_path):
    """Crafted shard skew where naive top-(limit+over) merging returns the
    WRONG bucket with the WRONG count, and refinement restores the exact
    global facet (Solr FacetComponent's refinement guarantee)."""
    import json
    from pyspark.sql import functions as F
    from sparklucene.routing import build_routed_index, routed_facet_field
    from sparklucene.query import Term

    # shard en: v1 x3, v2 x2  -> ships only v1 at limit=1, over=0
    # shard de: v2 x3, v1 x1  -> ships only v2
    # naive merge: v1=3 vs v2=3, tie -> v1 (WRONG: true v1=4, v2=5)
    rows = []
    did = 0
    for lang, src, n in (("en", "v1", 3), ("en", "v2", 2),
                         ("de", "v2", 3), ("de", "v1", 1)):
        for _ in range(n):
            rows.append((did, lang, src, "zz common text"))
            did += 1
    df = spark.createDataFrame(
        rows, "doc_id long, lang string, source string, content string") \
        .withColumn("repo", F.col("source")) \
        .withColumn("path", F.concat(F.lit("p/"), F.col("doc_id"))) \
        .withColumn("commit", F.lit("c0"))
    base = str(tmp_path / "routed-facet")
    build_routed_index(spark, df, base, route_col="lang", drange_size=8)
    out = routed_facet_field(spark, base, Term("zz"),
                             df.select("doc_id", "source"), "source",
                             limit=1, overrequest=0).collect()
    assert [(r["value"], r["cnt"]) for r in out] == [("v2", 5)]


def test_routed_grouping_equals_unsharded(spark, routed):
    """With global stats and max-score heads, the two-phase distributed
    grouping must EQUAL the unsharded grouped top-k (the exactness
    argument in routed_grouped_topk's docstring), computed here
    independently from a single whole-corpus index."""
    import shutil
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from sparklucene.build import build_index
    from sparklucene.routing import routed_grouped_topk

    corpus, _ = routed
    docs = corpus.select("doc_id", F.col("repo").alias("source"))
    got = routed_grouped_topk(
        spark, BASE, Or((Term("merge"), Term("spark"))), docs, "source",
        n_groups=3, group_limit=2, mode="f64", stats="global").collect()

    one = BASE + "-whole"
    shutil.rmtree(one, ignore_errors=True)
    build_index(spark, corpus, one, drange_size=128)
    scored = (search(Index(spark, one), Or((Term("merge"), Term("spark"))),
                     k=None, mode="f64")
              .join(docs.withColumnRenamed("source", "grp"), "doc_id"))
    rk = F.row_number().over(
        Window.partitionBy("grp").orderBy(F.desc("score"), F.asc("doc_id")))
    merged = scored.withColumn("rk", rk.cast("long")).filter("rk <= 2")
    ghead = (merged.groupBy("grp").agg(F.max("score").alias("head"))
             .orderBy(F.desc("head"), F.asc("grp")).limit(3))
    want = (merged.join(ghead, "grp")
            .select("grp", "head", "rk", "doc_id", "score")
            .orderBy(F.desc("head"), F.asc("grp"), F.asc("rk")).collect())
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    assert len(got) > 0
