"""sparklucene benchmark: one workload, one Spark session, one JSON result.

    python3 perfbench/run.py --workload dense --seed 1 --seconds 12 --trace 0

Run from the repository root. ``--trace 0`` prints the end-to-end metrics,
``--trace 1`` the per-layer ones. Human-readable lines (every metric under
its own name, with unit and sample count) come first; the last line of
standard output is the JSON result. Everything the run writes goes under
``.perfbench/`` in the current directory; see perfbench/README.md.
"""

from __future__ import annotations

import os
import sys
import time


def _started_at() -> float:
    """This process's start time on the perf_counter clock."""
    with open("/proc/self/stat") as fh:
        ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.perf_counter() - (uptime - ticks / os.sysconf("SC_CLK_TCK"))


T_START = _started_at()

import argparse  # noqa: E402
import json  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402


def _prepare(root: str) -> str:
    """Point every temp/scratch location of Python, Spark and the JVM at
    a per-run directory inside the checkout."""
    work = os.path.join(root, ".perfbench", f"run-{os.getpid()}")
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # Python workers import sparklucene from the checkout too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    # -XX:-UsePerfData: HotSpot would write /tmp/hsperfdata_<user>
    jvm_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    conf = {"spark.driver.extraJavaOptions": jvm_opts,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false"}
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()
    ) + " pyspark-shell"
    import tempfile
    tempfile.tempdir = None
    # import perfbench as a package from the root, never its files as
    # top-level modules from the script's own directory
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path[:] = [root] + [p for p in sys.path
                            if os.path.abspath(p or ".") not in (here, root)]
    return work


def _shutdown(spark) -> None:
    """Stop Spark, the gateway JVM and every process under this one, and
    wait until each has ended."""
    from pyspark import SparkContext

    from perfbench.tracing import descendants
    pids = descendants(os.getpid())
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=10)
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 20
    while True:
        alive = [p for p in pids if _alive(p)]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            deadline = time.monotonic() + 10
        time.sleep(0.1)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _compare_record(run, records: str, stats: dict) -> None:
    """The bulk-built index's stats.json must be identical in the traced
    and untraced runs of one seed: whichever runs second checks it."""
    os.makedirs(records, exist_ok=True)
    stem = os.path.join(records, f"{run.workload}-{run.seed}")
    me = f"{stem}-{int(run.traced)}.json"
    other = f"{stem}-{int(not run.traced)}.json"
    with open(me, "w") as fh:
        json.dump(stats, fh, sort_keys=True)
    if os.path.exists(other):
        with open(other) as fh:
            run.check(json.load(fh) == stats,
                      "stats.json differs between traced and untraced runs")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "sparklucene", "build.py")):
        print("perfbench: run from a checkout of the repository root "
              "(sparklucene/ not found)", file=sys.stderr)
        return 2
    work = _prepare(root)

    from perfbench import layers
    from perfbench.tracing import RssSampler
    from perfbench.workloads import WORKLOADS, Run, end_to_end, report
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    cores = len(os.sched_getaffinity(0))
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), work,
              T_START, cores)
    sampler = RssSampler()
    sampler.start()
    try:
        WORKLOADS[args.workload](run)
        run.mark("checks")
        stats = {k: v for k, v in run.info["build_stats"].items()
                 if k != "ts"}
        _compare_record(run, os.path.join(root, ".perfbench", "records"),
                        stats)
        if run.traced:
            per_layer = collect_layers(run, layers)
            run.mark("layer_probes")
    finally:
        try:
            _shutdown(run.spark)
        finally:
            peak = sampler.stop()
            run.mark("shutdown")
            if run.traced:
                os.makedirs(os.path.join(root, ".perfbench", "traces"),
                            exist_ok=True)
                run.tracer.dump(os.path.join(
                    root, ".perfbench", "traces",
                    f"{run.workload}-{run.seed}.jsonl"))
            shutil.rmtree(work, ignore_errors=True)

    for line in report(run, peak):
        print(line)
    if run.traced:
        for name, (v, unit) in per_layer.items():
            print(f"{run.workload}/{name} {v:.6g} {unit}")
        metrics = {n: {"value": float(v), "unit": u}
                   for n, (v, u) in per_layer.items()}
    else:
        metrics = {n: {"value": float(v), "unit": u}
                   for n, (v, u, _) in end_to_end(run).items()}
    for e in run.errors:
        print(f"{run.workload}/error {e}", file=sys.stderr)
    correct = run.failed == 0
    print(json.dumps({"correct": correct, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    sys.stdout.flush()
    return 0 if correct else 1


def collect_layers(run, layers) -> dict[str, tuple[float, str]]:
    """Every per-layer metric: span self times (median per request),
    Spark job counts, and the single-layer probes."""
    from perfbench.tracing import median
    from perfbench.workloads import Index
    tr, s = run.tracer, run.samples
    run.jobs.resolve()
    qroots = ("query",)

    def med(roots, name):
        return median(v for r in roots for v in tr.per_request(r, name))

    def counts(roots, key):
        return median(tr.spans[i].counts.get("_jobs", {}).get(key, 0)
                      for r in roots for i in tr.roots(r))

    v = dict(run.layer)
    for name in ("plan", "expand", "exec"):
        v[f"search.{name}_s"] = med(qroots, f"search.{name}")
    for key in ("jobs", "stages", "tasks"):
        v[f"search.{key}_per_query"] = counts(qroots, key)
    v["search.batch_plan_s"] = med(("batch",), "search.batch_plan")
    v["search.batch_exec_s"] = med(("batch",), "search.batch_exec")
    # a new generation's open where the write probe ran, else set-up's
    v["search.open_s"] = med(("fresh",) if tr.roots("fresh") else ("open",),
                             "search.open")
    v["search.delete_s"] = med(("delete",), "search.delete")
    v["streaming.invert_s"] = med(("commit",), "streaming.invert")
    v["streaming.merge_s"] = med(("commit",), "streaming.merge")
    v["streaming.bytes_written_per_batch_byte"] = median(
        s["bytes_per_batch_byte"])
    v["build.invert_s"] = med(("build",), "build.invert")
    v["build.merge_s"] = med(("build",), "build.merge")
    v["build.invert_docs_per_s"] = (run.info["build_docs"]
                                    / v["build.invert_s"])
    for key in ("jobs", "stages", "tasks", "failed_tasks"):
        v[f"build.{key}"] = run.info["build_counts"].get(key, 0)
    v["bench.trace_overhead_s"] = median(s["traced_query"]) - median(
        s["query"])
    st = tr.self_times()
    roots = [i for i, sp in enumerate(tr.spans) if sp.parent is None
             and sp.name in ("query", "fresh", "batch", "commit", "delete",
                             "build")]
    wall = sum(tr.spans[i].end - tr.spans[i].start for i in roots)
    v["bench.unaccounted_share"] = (sum(st[i] for i in roots) / wall
                                    if wall else 0.0)

    idx = Index.shared(run.spark, run.info["index_dir"])
    v.update(layers.job_floor(run.spark, idx))
    import pyarrow.parquet as pq
    content = pq.read_table(run.dir("corpus", "part-0.parquet"),
                            columns=["content"])["content"]
    v["analysis.tokens_per_s"] = layers.analysis_rate(content)
    codec = layers.codec_rates(idx.paths.postings)
    run.check(codec.pop("_codec_roundtrip_ok"),
              "encode_postings_batch did not reproduce stored cells")
    v.update(codec)
    v.update(layers.scorer_probe(idx, run.info["traced_queries"]))
    return {name: (float(v.get(name, 0.0)), unit)
            for name, unit, _ in layers.METRICS}


if __name__ == "__main__":
    sys.exit(main())
