"""spark-submit entry point — build and/or query an index from the CLI.

Cluster usage (the north-rule deployment shape):

    zip -r sparklucene.zip sparklucene
    spark-submit --master <cluster> --py-files sparklucene.zip \
        scripts/submit_job.py build --corpus <sf_dir> --index <dir> [--salt K]
    spark-submit --py-files sparklucene.zip \
        scripts/submit_job.py search --index <dir> --query "spark merge join" -k 10

The script only uses the active SparkSession handed to it by spark-submit
(master/cores/memory come from submit args), so the same file runs
unchanged on local[N] or a 1000-executor cluster.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="sparklucene-submit")
    sub = p.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build", help="build (or resume) an index")
    b.add_argument("--corpus", required=True, help="sf dir with documents.parquet")
    b.add_argument("--index", required=True)
    b.add_argument("--drange-size", type=int, default=None)
    b.add_argument("--salt", type=int, default=0)
    b.add_argument("--no-resume", action="store_true")
    b.add_argument("--no-positions", action="store_true")

    s = sub.add_parser("search", help="top-k BM25 query")
    s.add_argument("--index", required=True)
    s.add_argument("--query", required=True)
    s.add_argument("-k", type=int, default=10)
    s.add_argument("--hydrate", default=None, help="sf dir for result hydration")

    args = p.parse_args(argv)

    from pyspark.sql import SparkSession

    # Python workers over Unix domain sockets: over loopback TCP every
    # Python task waits ~40 ms for its first input batch (see
    # sparklucene/session.py). No socket dir: each executor's own
    # java.io.tmpdir applies, and a driver-side path may not exist there.
    # 1,024-row cache batches, as get_spark: a term's cells are one short
    # run per postings segment, and the cache skips the other batches.
    spark = (SparkSession.builder.appName(f"sparklucene-{args.cmd}")
             .config("spark.python.unix.domain.socket.enabled", "true")
             .config("spark.sql.inMemoryColumnarStorage.batchSize", "1024")
             .getOrCreate())

    from sparklucene.build import build_index
    from sparklucene.corpus import load_corpus
    from sparklucene.search import Index, search

    if args.cmd == "build":
        corpus = load_corpus(spark, args.corpus)
        t0 = time.perf_counter()
        stats = build_index(spark, corpus, args.index,
                            drange_size=args.drange_size,
                            resume=not args.no_resume, salt=args.salt,
                            store_positions=not args.no_positions)
        stats["build_sec"] = round(time.perf_counter() - t0, 3)
        print(json.dumps(stats))
    else:
        idx = Index(spark, args.index)
        hydrate = load_corpus(spark, args.hydrate) if args.hydrate else None
        t0 = time.perf_counter()
        rows = search(idx, args.query, k=args.k, hydrate=hydrate).collect()
        out = {"query": args.query, "k": args.k,
               "latency_sec": round(time.perf_counter() - t0, 3),
               "hits": [r.asDict() for r in rows]}
        print(json.dumps(out, default=str))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
