"""The workloads: ``dense`` and ``serve``, and the write probe.

One body per workload serves both modes. Untraced, it times whole
operations for the end-to-end metrics. Traced, every other timed
operation runs under spans around the calls into each ``sparklucene``
module (the rest stay untraced, which measures the tracing overhead),
and the layer probes of :mod:`perfbench.layers` run after the timed
phase.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from collections import defaultdict

import pyarrow.parquet as pq

from perfbench import gen
from perfbench.tracing import JobCounter, Tracer, median, tail
from sparklucene.build import (IndexPaths, build_index, invert, load_stats,
                               merge)
from sparklucene.query import MultiTermQuery, Or, Term
from sparklucene.search import Index, delete_docs, search, search_batch
from sparklucene.session import get_spark
from sparklucene.streaming import index_stream_once, start_incremental_index

K = 10
DENSE_DOCS = 200_000
SERVE = gen.ZipfSpec(n_docs=100_000, vocab_size=40_000, exponent=1.0,
                     mean_len=60)
DRANGE = {"dense": 16_384, "serve": 16_384}
#: the write probe of traced serve runs: base docs, range size, commits
PROBE_DRANGE = 1024
PROBE_SPEC = gen.ZipfSpec(n_docs=8 * PROBE_DRANGE, vocab_size=40_000,
                          exponent=1.0, mean_len=60)
PROBE_COMMITS = 2
#: queries per search_batch call
BATCH = 10
#: serial queries between two search_batch calls
SERIAL_PER_BATCH = 2
#: appended docs deleted after the probe's commits
DELETES_PER_ROUND = 4
#: queries whose serial results are re-checked through search_batch and
#: prune=False after the timed phase
CHECK_SAMPLE = 3
CORPUS_SCHEMA = "doc_id long, content string"


#: iterations of the calibration loop, and its wall on the reference
#: host (4 vCPU, Python 3.11) — normalised samples are in seconds at
#: that speed
CAL_LOOP = 150_000
CAL_REF_S = 0.0075


def host_calibration() -> float:
    """Median wall of three runs of a fixed pure-Python loop.

    On a shared 4-vCPU VM, host speed swings up to 2x within tens of
    seconds (a fixed single-thread numpy/Python loop measured
    0.54-1.10 s). Scaling each
    operation by a reading taken right before it removes most of that
    swing from the gated medians; the loop touches no engine code, so an
    engine change moves the operation and not the reading."""
    ts = []
    for _ in range(3):
        t0 = time.perf_counter()
        x = 0
        for j in range(CAL_LOOP):
            x += j
        ts.append(time.perf_counter() - t0)
    return sorted(ts)[1]


class Run:
    """State of one benchmark run: session, tracer, samples, failures."""

    def __init__(self, workload: str, seed: int, seconds: float,
                 traced: bool, work: str, t_start: float, cores: int):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.traced, self.work, self.t_start = traced, work, t_start
        self.cores = cores
        self.tracer = Tracer(False)
        self.jobs: JobCounter | None = None
        self.gen_s = 0.0
        self.setup_s = 0.0
        self.attempted = self.failed = 0
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.info: dict = {}
        self.layer: dict[str, float] = {}
        self.spark = None
        self.errors: list[str] = []

    # ---- bookkeeping ---------------------------------------------------
    def generated(self, t0: float) -> None:
        """Exclude input generation (since ``t0``) from set-up time."""
        self.gen_s += time.perf_counter() - t0

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)

    def op(self, kind: str, fn, *args, per: int = 1):
        """Run one timed operation; returns (result, seconds) or
        (None, None) when it raised (counted as a failure). Records the
        wall (÷ ``per``) under ``kind`` and, scaled by the host-speed
        calibrations taken just before and after it, under
        ``kind + "_norm"``."""
        cal = host_calibration()
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = fn(*args)
        except Exception as e:  # a failed operation is a result, not a crash
            self.failed += 1
            self.errors.append(f"{kind}: {type(e).__name__}: {e}"[:300])
            return None, None
        dt = time.perf_counter() - t0
        cal = (cal + host_calibration()) / 2  # the speed around the op
        tag = "traced_" if self.tracer.enabled else ""
        self.samples[tag + kind].append(dt / per)
        self.samples[tag + kind + "_norm"].append(dt / per * CAL_REF_S / cal)
        return out, dt

    def counted(self, label: str):
        """Job-group + job-id-range counters around a traced call."""
        return _Counted(self, label)

    def timed_phase(self):
        """Yields op numbers until ``seconds`` have passed. In a traced
        run, even-numbered ops are traced and odd ones are not."""
        if not self.setup_s:
            self.mark("warm_queries")
            self.setup_s = time.perf_counter() - self.t_start - self.gen_s
        t0, i = time.perf_counter(), 0
        while time.perf_counter() - t0 < self.seconds:
            self.tracer.enabled = self.traced and i % 2 == 0
            yield i
            i += 1
        self.tracer.enabled = False
        self.mark("timed")

    def mark(self, phase: str) -> None:
        """Record the wall since the previous mark (set-up breakdown)."""
        now = time.perf_counter()
        last = self.info.setdefault("_mark", self.t_start)
        self.info.setdefault("phases", {})[phase] = round(now - last, 3)
        self.info["_mark"] = now

    def dir(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


class _Counted:
    def __init__(self, run: Run, label: str):
        self.run, self.label, self.counts = run, label, {}

    def __enter__(self):
        self.on = self.run.tracer.enabled and self.run.jobs is not None
        if self.on:
            self.token = self.run.jobs.start(self.label)
        return self.counts

    def __exit__(self, *exc):
        if self.on:
            self.run.jobs.stop(self.token, self.counts)
            self.run.tracer.count(_jobs=self.counts)
        return False


# ---- set-up steps ----------------------------------------------------------
def start_session(run: Run) -> None:
    tr = run.tracer
    tr.enabled = run.traced
    with tr.span("session.start", "session"):
        t0 = time.perf_counter()
        run.spark = get_spark(app_name=f"perfbench-{run.workload}",
                              cores=run.cores)
        run.spark.sparkContext.setLogLevel("ERROR")
        run.layer["session.start_s"] = time.perf_counter() - t0
    if run.traced:
        run.jobs = JobCounter(run.spark.sparkContext)
        # untraced runs leave worker start-up to the warm-up build
        with tr.span("session.worker_warm", "warm"):
            t0 = time.perf_counter()
            warm_workers(run.spark, run.cores)
            run.layer["session.worker_warm_s"] = time.perf_counter() - t0
    tr.enabled = False


def warm_workers(spark, cores: int) -> None:
    """Start every Python worker and import the scoring stack in it."""
    def f(key, pdf):
        import pyarrow  # noqa: F401

        import sparklucene.scorer  # noqa: F401
        return pdf

    (spark.range(cores).repartition(cores)
     .groupBy("id").applyInPandas(f, "id long").count())


def write_parquet(run: Run, table, path: str) -> None:
    t0 = time.perf_counter()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    run.generated(t0)


def load_corpus(run: Run, path: str):
    """Parquet read + cache materialise (the corpus.load layer)."""
    tr = run.tracer
    tr.enabled = run.traced
    with tr.span("corpus.load", "load"):
        t0 = time.perf_counter()
        df = (run.spark.read.parquet(path)
              .repartition(2 * run.cores).cache())
        n = df.count()
        run.layer["corpus.load_s"] = time.perf_counter() - t0
    tr.enabled = False
    return df, n


def warm_build(run: Run) -> None:
    """One small throwaway build (JIT, codegen, build-path imports)."""
    t0 = time.perf_counter()
    small = gen.zipf_corpus(run.seed, gen.ZipfSpec(2048, 5000, 1.0, 40),
                            gen.S_WARM)
    run.generated(t0)
    path = run.dir("warm-corpus", "part-0.parquet")
    write_parquet(run, small.table, path)
    df = run.spark.read.parquet(path)
    build_index(run.spark, df, run.dir("warm-index"), drange_size=1024,
                resume=False)
    shutil.rmtree(run.dir("warm-index"), ignore_errors=True)


def bulk_build(run: Run, corpus_df, n_docs: int, index_dir: str,
               drange: int) -> None:
    """The timed bulk build. Traced, it calls ``build.invert`` then
    ``build.merge`` with exactly the arguments ``build_index`` passes."""
    tr = run.tracer
    tr.enabled = run.traced
    paths = IndexPaths(index_dir)
    t0 = time.perf_counter()
    if not run.traced:
        build_index(run.spark, corpus_df, index_dir, drange_size=drange,
                    resume=False)
    else:
        with tr.span("build", "build"), run.counted("build") as c:
            os.makedirs(index_dir, exist_ok=True)
            with tr.span("build.invert"):
                invert(corpus_df, paths, drange, resume=False)
            with tr.span("build.merge"):
                merge(run.spark, paths, drange)
        run.info["build_counts"] = c
        run.layer["build.partials_bytes"] = du(paths.partials)
        run.layer["build.postings_bytes"] = du(paths.postings)
        run.layer["build.termstats_bytes"] = du(paths.termstats)
    wall = time.perf_counter() - t0
    tr.enabled = False
    run.samples["build_s"].append(wall)
    run.info["build_docs"] = n_docs
    run.info["build_stats"] = load_stats(index_dir)


def du(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def open_index(run: Run, index_dir: str) -> Index:
    """``Index.shared`` + first postings/termstats materialisation. The
    untraced path leaves materialisation to the first query, as a
    client would; the traced path forces it inside ``search.open``."""
    tr = run.tracer
    if not tr.enabled:
        return Index.shared(run.spark, index_dir)
    with tr.span("search.open"):
        idx = Index.shared(run.spark, index_dir)
        idx.postings().count()
        idx.termstats().count()
    return idx


# ---- queries ---------------------------------------------------------------
def _multiterm(q) -> list[MultiTermQuery]:
    if isinstance(q, MultiTermQuery):
        return [q]
    out = []
    for attr in ("clauses", "positive", "negative", "child", "filter"):
        v = getattr(q, attr, None)
        for c in (v if isinstance(v, tuple) else (v,) if v else ()):
            out += _multiterm(c)
    return out


def run_query(run: Run, idx: Index, q, prune: bool = True) -> list:
    """``search(...).collect()``; traced: expand / plan / exec spans."""
    tr = run.tracer
    with run.counted("query"):
        with tr.span("search.expand"):
            for m in _multiterm(q):
                idx.expand_terms(m)
        with tr.span("search.plan"):
            df = search(idx, q, k=K, mode="lucene8", prune=prune)
        with tr.span("search.exec"):
            return [(int(r["doc_id"]), float(r["score"]))
                    for r in df.collect()]


def run_batch(run: Run, idx: Index, items: list) -> dict:
    tr = run.tracer
    qs = dict(items)
    with run.counted("batch"):
        with tr.span("search.expand"):
            for q in qs.values():
                for m in _multiterm(q):
                    idx.expand_terms(m)
        with tr.span("search.batch_plan"):
            df = search_batch(idx, qs, k=K, mode="lucene8", prune=True)
        with tr.span("search.batch_exec"):
            rows = df.collect()
    out: dict[str, list] = {n: [] for n in qs}
    for r in sorted(rows, key=lambda r: (r["query"], -r["score"],
                                         r["doc_id"])):
        out[r["query"]].append((int(r["doc_id"]), float(r["score"])))
    return out


def traced_op(run: Run, root: str, request: str, kind: str, fn, *args,
              per: int = 1):
    with run.tracer.span(root, request):
        return run.op(kind, fn, *args, per=per)


def serving(run: Run) -> None:
    """bench.py's ``run_queries`` serving config: AQE off."""
    run.spark.conf.set("spark.sql.adaptive.enabled", "false")


def query_workload(run: Run, index_dir: str, stream: list,
                   batches: list[list], warm: list) -> None:
    """Serial queries with a ``search_batch`` call after every
    SERIAL_PER_BATCH of them, closed loop, for ``seconds``."""
    serving(run)
    run.tracer.enabled = run.traced
    with run.tracer.span("open", "open"):
        idx = open_index(run, index_dir)
    run.tracer.enabled = False
    # searcher warm-up, queries of another seed: every shape once through
    # search_batch (fills the postings cache), then the serial path
    run_batch(run, idx, warm)
    for _, q in warm[:2]:
        run_query(run, idx, q)
    results: dict[str, list] = {}
    si = bi = 0
    for i in run.timed_phase():
        if i % (SERIAL_PER_BATCH + 1) < SERIAL_PER_BATCH:
            name, q = stream[si % len(stream)]
            si += 1
            if run.tracer.enabled:
                run.info.setdefault("traced_queries", []).append(q)
            out, _ = traced_op(run, "query", f"q{si}", "query",
                               run_query, run, idx, q)
            if out is not None:
                results[name] = out
        else:
            items = batches[bi % len(batches)]
            bi += 1
            traced_op(run, "batch", f"b{bi}", "batch", run_batch, run, idx,
                      items, per=len(items))
    check_query_paths(run, idx, stream, results)


def check_query_paths(run: Run, idx: Index, stream: list,
                      results: dict) -> None:
    """search == search_batch and prune=True == prune=False, bit-equal,
    on the first CHECK_SAMPLE serially timed queries."""
    sample = [(n, q) for n, q in stream if n in results][:CHECK_SAMPLE]
    if not sample:
        run.check(False, "no query completed in the timed phase")
        return
    batch = run_batch(run, idx, sample)
    for n, q in sample:
        run.check(batch.get(n) == results[n], f"search_batch != search: {n}")
        run.check(run_query(run, idx, q, prune=False) == results[n],
                  f"prune=False != prune=True: {n}")


# ---- workloads -------------------------------------------------------------
def setup_index(run: Run, table, drange: int) -> tuple[str, int]:
    """Session, warm-up build, corpus load and the timed bulk build."""
    write_parquet(run, table, run.dir("corpus", "part-0.parquet"))
    run.mark("generate")
    start_session(run)
    run.mark("session")
    warm_build(run)
    run.mark("warm_build")
    df, n = load_corpus(run, run.dir("corpus"))
    run.mark("corpus_load")
    index_dir = run.dir("index")
    bulk_build(run, df, n, index_dir, drange)
    df.unpersist()
    run.mark("bulk_build")
    run.info["index_dir"] = index_dir
    run.info["index_bytes"] = du(index_dir)
    return index_dir, n


def dense(run: Run) -> None:
    t0 = time.perf_counter()
    corpus = gen.dense_corpus(run.seed, DENSE_DOCS)
    stream = gen.dense_stream(run.seed, 400)
    warm = gen.dense_stream(run.seed, len(gen.DENSE_QUERIES),
                            stream=gen.S_WARM)
    batches = [[(n, q) for n, q in gen.dense_stream(run.seed, BATCH,
                                                    stream=gen.S_ORDER)]]
    run.info["facts"] = gen.corpus_facts(corpus, stream)
    run.info["content_bytes"] = corpus.content_bytes()
    table = corpus.table
    del corpus
    run.generated(t0)
    index_dir, _ = setup_index(run, table, DRANGE["dense"])
    query_workload(run, index_dir, stream, batches, warm)


def _one_per_shape(stream: list) -> list:
    seen, out = set(), []
    for n, q in stream:
        shape = n.split(":", 1)[1]
        if shape not in seen:
            seen.add(shape)
            out.append((n, q))
    return out


def serve(run: Run) -> None:
    t0 = time.perf_counter()
    corpus = gen.zipf_corpus(run.seed, SERVE)
    stream = gen.selective_stream(run.seed, corpus, 400)
    warm = _one_per_shape(gen.selective_stream(run.seed, corpus, 60,
                                               stream=gen.S_WARM))
    bq = gen.selective_stream(run.seed, corpus, 20 * BATCH,
                              stream=gen.S_ORDER)
    batches = [bq[i:i + BATCH] for i in range(0, len(bq), BATCH)]
    run.info["facts"] = gen.corpus_facts(corpus, stream)
    run.info["content_bytes"] = corpus.content_bytes()
    table = corpus.table
    del corpus
    run.generated(t0)
    index_dir, _ = setup_index(run, table, DRANGE["serve"])
    del table
    query_workload(run, index_dir, stream, batches, warm)
    if run.traced:
        write_probe(run)


def write_probe(run: Run) -> None:
    """The write path, for the per-layer numbers of a traced run: a small
    Zipf index in 1,024-doc ranges takes PROBE_COMMITS append commits of
    one range each (``streaming``), each followed by the first query on
    the new generation (``search.open``), then a delete round. Checks:
    ``n_docs`` = base + appended, deleted docs never come back, and
    CheckIndex finds nothing."""
    t0 = time.perf_counter()
    base = gen.zipf_corpus(run.seed, PROBE_SPEC, 1)
    stream = gen.selective_stream(run.seed, base, 20)
    feed = Feed(run, base.vocab, base.n_docs)
    index_dir = run.dir("write-index")
    df = run.spark.createDataFrame(base.table.to_pandas())
    n = base.n_docs
    del base
    run.generated(t0)
    build_index(run.spark, df, index_dir, drange_size=PROBE_DRANGE,
                resume=False)
    # warm-up commit: the first streaming query of a session pays
    # one-time costs no later commit does
    feed.next_batch()
    commit(run, feed.src, index_dir, feed.drange, feed.ckpt)
    run.tracer.enabled = True
    for i in range(PROBE_COMMITS):
        batch = feed.next_batch()
        before = file_sizes(index_dir)
        _, dt = traced_op(run, "commit", f"c{i}", "commit", commit, run,
                          feed.src, index_dir, feed.drange, feed.ckpt)
        if dt is None:
            break  # later ranges would not be contiguous
        written = bytes_written(before, file_sizes(index_dir))
        run.samples["bytes_per_batch_byte"].append(
            written / batch.content_bytes())
        traced_op(run, "fresh", f"f{i}", "fresh", fresh_query, run,
                  index_dir, stream[i][1])
    ids = gen.delete_ids(run.seed, 0, n, feed.next_id, DELETES_PER_ROUND)
    traced_op(run, "delete", "d0", "delete", _delete, run,
              Index.shared(run.spark, index_dir), ids)
    run.tracer.enabled = False
    check_deleted(run, index_dir, ids, feed.rare_of)
    stats = load_stats(index_dir)
    run.check(stats["n_docs"] == feed.next_id,
              f"stats n_docs {stats['n_docs']} != {feed.next_id}")
    from sparklucene.checkindex import verify_index
    bad = verify_index(Index(run.spark, index_dir)).count()
    run.check(bad == 0, f"checkindex: {bad} violations")


class Feed:
    """The producer: writes micro-batch ``j`` (exactly one doc range of
    new ids) into the stream's source directory, outside any timing."""

    def __init__(self, run: Run, vocab, first_id: int):
        self.run, self.vocab, self.next_id = run, vocab, first_id
        self.drange = PROBE_DRANGE
        self.src, self.ckpt = run.dir("source"), run.dir("checkpoint")
        self.j = 0
        #: rarest (highest Zipf rank) term of every appended doc
        self.rare_of: dict[int, str] = {}
        os.makedirs(self.src, exist_ok=True)
        os.makedirs(run.dir("staging"), exist_ok=True)

    def next_batch(self) -> gen.Corpus:
        batch = gen.micro_batch(self.run.seed, PROBE_SPEC, self.vocab, self.j,
                                self.next_id, self.drange)
        for d in range(batch.n_docs):
            toks = batch.tokens[batch.offsets[d]:batch.offsets[d + 1]]
            self.rare_of[self.next_id + d] = str(self.vocab[int(toks.max())])
        name = f"batch-{self.j:05d}.parquet"
        tmp = self.run.dir("staging", name)
        pq.write_table(batch.table, tmp)
        os.replace(tmp, os.path.join(self.src, name))
        self.j += 1
        self.next_id += batch.n_docs
        return batch


def commit(run: Run, src: str, index_dir: str, drange: int,
           ckpt: str) -> None:
    """One append commit. Traced, it calls ``start_incremental_index``
    then ``build.merge`` exactly as ``index_stream_once`` does."""
    tr = run.tracer
    if not tr.enabled:
        index_stream_once(run.spark, src, CORPUS_SCHEMA, index_dir, drange,
                          ckpt)
        return
    with run.counted("commit"):
        with tr.span("streaming.invert"):
            stream = run.spark.readStream.schema(CORPUS_SCHEMA).parquet(src)
            q = start_incremental_index(stream, index_dir, drange, ckpt,
                                        compact_every=0,
                                        trigger={"availableNow": True})
            q.awaitTermination()
        with tr.span("streaming.merge"):
            merge(run.spark, IndexPaths(index_dir), drange)


def fresh_query(run: Run, index_dir: str, q) -> list:
    idx = open_index(run, index_dir)
    return run_query(run, idx, q)


def _delete(run: Run, idx: Index, ids: list[int]) -> None:
    with run.tracer.span("search.delete"):
        delete_docs(idx, ids)


def check_deleted(run: Run, index_dir: str, ids: list[int],
                  rare_of: dict) -> None:
    """Deleted docs never come back: a query on each deleted doc's
    rarest term must not return it."""
    idx = Index.shared(run.spark, index_dir)
    q = Or(tuple(Term(t) for t in sorted({rare_of[d] for d in ids})))
    t0 = time.perf_counter()
    hits = {int(r["doc_id"]) for r in search(idx, q, k=1000).collect()}
    run.samples["post_delete_query"].append(time.perf_counter() - t0)
    back = sorted(hits & set(ids))
    run.check(not back, f"deleted ids returned: {back[:5]}")


def file_sizes(path: str) -> dict[str, tuple[int, int]]:
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            try:
                st = os.stat(p)
            except OSError:
                continue
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def bytes_written(before: dict, after: dict) -> int:
    return sum(sz for p, (sz, mt) in after.items()
               if before.get(p) != (sz, mt))


WORKLOADS = {"dense": dense, "serve": serve}


def end_to_end(run: Run) -> dict[str, tuple]:
    """name -> (value, unit, n) for the BENCHMARK.json metrics."""
    s = run.samples
    return {
        "setup_s": (run.setup_s, "s", 1),
        "query_p50_norm_s": (median(s["query_norm"]), "s",
                             len(s["query_norm"])),
        "batch_per_query_norm_s": (median(s["batch_norm"]), "s",
                                   len(s["batch_norm"])),
        "index_bytes_per_input_byte": (
            run.info["index_bytes"] / run.info["content_bytes"], "B/B", 1),
    }


def report(run: Run, peak_rss_mb: float) -> list[str]:
    """Every end-to-end metric of the workload under its own name (raw
    wall times, then the normalised ones BENCHMARK.json gates), with
    unit and sample count."""
    s, w = run.samples, run.workload
    lines = [f"{w}/facts {json.dumps(run.info['facts'])}",
             f"{w}/phases_s {json.dumps(run.info.get('phases', {}))}"]

    def line(name, v, unit, n):
        lines.append(f"{w}/{name} {v:.6g} {unit} n={n}")

    line("build_docs_per_s", run.info["build_docs"] / median(s["build_s"]),
         "docs/s", len(s["build_s"]))
    line("peak_rss_mb", peak_rss_mb, "MB", 1)
    line("query_p50_s", median(s["query"]), "s", len(s["query"]))
    v, pct, n = tail(s["query"])
    line(f"query_tail_s(p{pct:g})", v, "s", n)
    bq = median(s["batch"])
    line("batch_qps", 1 / bq if bq else 0.0, "1/s", len(s["batch"]))
    if s.get("traced_commit"):  # the write probe of a traced serve run
        line("commit_p50_s", median(s["traced_commit"]), "s",
             len(s["traced_commit"]))
        line("fresh_query_p50_s", median(s["traced_fresh"]), "s",
             len(s["traced_fresh"]))
    for name, (v, unit, n) in end_to_end(run).items():
        line(name, v, unit, n)
    lines.append(f"{w}/samples_s " + json.dumps(
        {k: [round(x, 4) for x in v] for k, v in s.items()}))
    lines.append(f"{w}/failures {run.failed}/{run.attempted}")
    return lines
