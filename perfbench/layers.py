"""Per-layer numbers for the traced run.

Two sources: the spans the workload recorded around its calls (self
time per request, Spark job counts), and direct probes of single layers
run after the timed phase — the Spark job floor, the analyzer, the
postings codec and the range scorer on the driver.
"""

from __future__ import annotations

import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from perfbench.tracing import median
from sparklucene.analysis import flat_token_codes
from sparklucene.codec import (decode_doc_ids, decode_positions, decode_tfs,
                               encode_postings_batch)
from sparklucene.query import MatchNoDocs, prune_missing, qualify
from sparklucene.scorer import GlobalStats, RangeCell, RangeScorer, TermStats
from sparklucene.search import _expand_multiterm

#: (metric, unit, better) in the order BENCHMARK.json lists them
METRICS = [
    ("session.start_s", "s", "lower"),
    ("session.worker_warm_s", "s", "lower"),
    ("session.empty_job_s", "s", "lower"),
    ("session.udf_job_s", "s", "lower"),
    ("corpus.load_s", "s", "lower"),
    ("analysis.tokens_per_s", "tokens/s", "higher"),
    ("codec.encode_postings_per_s", "postings/s", "higher"),
    ("codec.decode_postings_per_s", "postings/s", "higher"),
    ("build.invert_s", "s", "lower"),
    ("build.invert_docs_per_s", "docs/s", "higher"),
    ("build.merge_s", "s", "lower"),
    ("build.partials_bytes", "B", "lower"),
    ("build.postings_bytes", "B", "lower"),
    ("build.termstats_bytes", "B", "lower"),
    ("build.jobs", "count", "lower"),
    ("build.stages", "count", "lower"),
    ("build.tasks", "count", "lower"),
    ("build.failed_tasks", "count", "lower"),
    ("scorer.topk_s", "s", "lower"),
    ("scorer.docs_scored", "count", "lower"),
    ("scorer.docs_total", "count", "lower"),
    ("scorer.blocks_skipped", "count", "higher"),
    ("scorer.scored_share", "ratio", "lower"),
    ("search.plan_s", "s", "lower"),
    ("search.expand_s", "s", "lower"),
    ("search.exec_s", "s", "lower"),
    ("search.jobs_per_query", "count", "lower"),
    ("search.stages_per_query", "count", "lower"),
    ("search.tasks_per_query", "count", "lower"),
    ("search.batch_plan_s", "s", "lower"),
    ("search.batch_exec_s", "s", "lower"),
    ("search.open_s", "s", "lower"),
    ("search.delete_s", "s", "lower"),
    ("streaming.invert_s", "s", "lower"),
    ("streaming.merge_s", "s", "lower"),
    ("streaming.bytes_written_per_batch_byte", "ratio", "lower"),
    ("bench.trace_overhead_s", "s", "lower"),
    ("bench.unaccounted_share", "ratio", "lower"),
]

#: how many traced queries the driver-side scorer probe replays
SCORER_QUERIES = 5
#: docs the analysis probe tokenizes
ANALYSIS_DOCS = 20_000


def _median_of(fn, reps: int) -> float:
    """Median wall of ``reps`` calls."""
    ts = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t0)
    return median(ts)


def job_floor(spark, idx) -> dict[str, float]:
    """The Spark floor: an empty job, and a no-op job shaped like one
    search (cached postings of one term -> repartition(drange) ->
    identity applyInPandas)."""
    empty = _median_of(lambda: spark.range(1).count(), 5)
    term = idx.termstats().orderBy(F.desc("df")).first()["term"]
    n_ranges = max(1, -(-int(idx.stats["n_docs"])
                        // int(idx.stats["drange_size"])))

    def noop(key, pdf):
        return pd.DataFrame({"drange": pd.Series([key[0]], dtype="int32")})

    def udf_job():
        (idx.postings().filter(F.col("term") == term)
         .repartition(min(n_ranges, 4 * spark.sparkContext.defaultParallelism),
                      "drange")
         .groupBy("drange").applyInPandas(noop, "drange int").collect())

    udf_job()  # compile once
    return {"session.empty_job_s": empty,
            "session.udf_job_s": _median_of(udf_job, 3)}


def analysis_rate(content: pa.Array) -> float:
    """Tokens per second of ``flat_token_codes`` on one driver core."""
    content = content.slice(0, ANALYSIS_DOCS)
    ids = np.arange(len(content), dtype=np.int64)
    n_tokens = len(flat_token_codes(content, ids)[0])
    return n_tokens / _median_of(lambda: flat_token_codes(content, ids), 3)


def codec_rates(postings_dir: str) -> dict[str, float]:
    """Encode: one real range's postings, decoded then re-encoded with
    ``encode_postings_batch`` (the stored bytes must come back).
    Decode: the densest term's cells over every range."""
    tbl = pq.read_table(postings_dir, columns=[
        "term", "drange", "df_part", "doc_bytes", "tf_bytes", "norm_bytes",
        "pos_bytes"])
    dr0 = tbl.filter(pc.equal(tbl["drange"], 0)).sort_by("term")
    rows = dr0.to_pylist()
    docs = [decode_doc_ids(r["doc_bytes"]) for r in rows]
    tfs = [decode_tfs(r["tf_bytes"]) for r in rows]
    pos = [decode_positions(r["pos_bytes"] or b"", t)
           for r, t in zip(rows, tfs)]
    norms = [np.frombuffer(r["norm_bytes"], dtype=np.uint8) for r in rows]
    starts = np.concatenate(([0], np.cumsum([d.size for d in docs])))
    flat = [np.concatenate(x) for x in (docs, tfs, norms, pos)]
    cells = encode_postings_batch(starts, *flat)
    same = all(c.doc_bytes == r["doc_bytes"] and c.tf_bytes == r["tf_bytes"]
               for c, r in zip(cells, rows))
    enc = _median_of(lambda: encode_postings_batch(starts, *flat), 3)

    by_term = tbl.group_by("term").aggregate([("df_part", "sum")])
    top = by_term.sort_by([("df_part_sum", "descending")])["term"][0]
    dense = tbl.filter(pc.equal(tbl["term"], top))
    dcells = list(zip(dense["doc_bytes"].to_pylist(),
                      dense["tf_bytes"].to_pylist()))
    n_dec = sum(decode_doc_ids(d).size for d, _ in dcells)

    def decode_all():
        for d, t in dcells:
            decode_doc_ids(d)
            decode_tfs(t)

    dec = _median_of(decode_all, 3)
    return {"codec.encode_postings_per_s": int(starts[-1]) / enc,
            "codec.decode_postings_per_s": n_dec / dec,
            "_codec_roundtrip_ok": same}


def scorer_probe(idx, queries: list) -> dict[str, float]:
    """Driver-side ``RangeScorer(cells, gstats).topk(q, k)`` over each
    query's cells, read with pyarrow as ``bench.run_wand_ablation``
    does; ``RangeScorer.metrics`` gives the work counts."""
    st = idx.stats
    walls, scored, total, skipped = [], [], [], []
    for q in queries[:SCORER_QUERIES]:
        q = _expand_multiterm(qualify(q), idx, 1024)
        terms = sorted(set(q.terms()) | set(q.neg_terms()))
        tstats = idx.term_stats_for(terms)
        q = prune_missing(q, set(tstats))
        if isinstance(q, MatchNoDocs) or not terms:
            continue
        gstats = GlobalStats(int(st["doc_count"]), int(st["sum_dl"]),
                             {t: TermStats(s.df, s.cf)
                              for t, s in tstats.items()})
        tbl = pq.read_table(idx.paths.postings,
                            filters=[("term", "in", terms)])
        by_range: dict[int, dict] = {}
        for r in tbl.to_pylist():
            by_range.setdefault(r["drange"], {})[r["term"]] = RangeCell(
                r["doc_bytes"], r["tf_bytes"], r["norm_bytes"],
                np.asarray(r["block_last"], dtype=np.int64),
                np.asarray(r["block_max_tf"], dtype=np.int32),
                np.frombuffer(r["block_min_norm"], dtype=np.uint8),
                r["pos_bytes"] or b"")
        t0 = time.perf_counter()
        s = n = b = 0
        for cells in by_range.values():
            sc = RangeScorer(cells, gstats)
            sc.topk(q, 10)
            s += sc.metrics.docs_scored
            n += sc.metrics.docs_total
            b += sc.metrics.blocks_skipped
        walls.append(time.perf_counter() - t0)
        scored.append(s)
        total.append(n)
        skipped.append(b)
    return {"scorer.topk_s": median(walls),
            "scorer.docs_scored": median(scored),
            "scorer.docs_total": median(total),
            "scorer.blocks_skipped": median(skipped),
            "scorer.scored_share": (sum(scored) / sum(total)
                                    if sum(total) else 0.0)}
