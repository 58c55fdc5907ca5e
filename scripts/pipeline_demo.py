"""spark-submit entry point — the full pretraining-data pipeline, end to
end, over the documents table:

    1. exact dedup            keep the canonical copy per sha256
    2. near-dup dedup         MinHash banded LSH candidate pairs drop the
                              non-canonical member of each near-dup pair
    3. quality filter         length + unigram-perplexity band + stopword
                              floor (textops.quality_filter signals)
    4. chunk                  sliding windows (size/stride) for retrieval
    5. pack                   concat-and-chunk token budget layout

Prints one JSON line of per-stage counts so the funnel is auditable:

    spark-submit --py-files sparklucene.zip scripts/pipeline_demo.py \
        --corpus /root/testdata/sf0.1 [--size 128 --stride 96 --budget 2048]

Every stage is a stock sparklucene operator (see COVERAGE.md — each has
its own oracle-checked driver entry); this script only composes them, so
the pipeline inherits their scale shapes: hash/LSH equi-joins, partial
aggregations, narrow chunk maps — no all-pairs, no driver-side data.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="sparklucene-pipeline")
    p.add_argument("--corpus", required=True,
                   help="sf dir with documents.parquet")
    p.add_argument("--size", type=int, default=128)
    p.add_argument("--stride", type=int, default=96)
    p.add_argument("--budget", type=int, default=2048)
    p.add_argument("--expand", type=int, default=1,
                   help="deterministic K-fold replication for scale runs"
                        " (doc_id' = replica*n + doc_id; replica 0 keeps"
                        " the original text, later replicas get a"
                        " replica-tagged prefix so near-dup still bites)")
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from sparklucene import dedup, textops

    # Python workers over Unix domain sockets: over loopback TCP every
    # Python task waits ~40 ms for its first input batch (see
    # sparklucene/session.py). No socket dir: each executor's own
    # java.io.tmpdir applies, and a driver-side path may not exist there.
    # 1,024-row cache batches, as get_spark: a term's cells are one short
    # run per postings segment, and the cache skips the other batches.
    spark = (SparkSession.builder
             .config("spark.python.unix.domain.socket.enabled", "true")
             .config("spark.sql.inMemoryColumnarStorage.batchSize", "1024")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.time()
    docs = spark.read.parquet(f"{args.corpus}/documents.parquet")
    if args.expand > 1:
        n0 = docs.count()
        rep = F.explode(F.sequence(F.lit(0), F.lit(args.expand - 1)))
        docs = (docs.select("*", rep.alias("_r"))
                # long casts: int32 * int32 overflows (ANSI abort) once
                # replica*n0 passes 2^31 — exactly the scale runs this
                # flag exists for
                .withColumn("doc_id",
                            F.col("_r").cast("long")
                            * F.lit(n0).cast("long")
                            + F.col("doc_id").cast("long"))
                .withColumn(
                    "text",
                    F.when(F.col("_r") == 0, F.col("text"))
                    .otherwise(F.concat(F.lit("rep"),
                                        F.col("_r").cast("string"),
                                        F.lit(" "), F.col("text"))))
                .drop("_r"))
        if "n_chars" in docs.columns:  # re-derive: replica tag changed text
            docs = docs.withColumn("n_chars", F.length("text"))
    n_raw = docs.count()

    # 1. exact dedup: keep min doc_id per content hash
    sha = docs.select("doc_id", F.sha2("text", 256).alias("sha"))
    keep_exact = (sha.groupBy("sha").agg(F.min("doc_id").alias("doc_id"))
                  .select("doc_id").persist())
    docs1 = docs.join(keep_exact, "doc_id")
    n_exact = docs1.count()

    # 2. near-dup: drop the higher-id member of each LSH candidate pair
    pairs = dedup.lsh_candidate_pairs(docs1)
    # persist the id-only stage outputs: every later funnel count
    # re-executes its upstream joins, and without these pins the LSH
    # banding / perplexity aggs would re-run once per count
    losers = (pairs.select(F.greatest("doc_a", "doc_b")
                           .alias("doc_id")).distinct().persist())
    docs2 = docs1.join(losers, "doc_id", "left_anti")
    n_neardup = docs2.count()

    # 3. quality filter (signals + thresholds from textops)
    survivors = textops.quality_filter(docs2).select("doc_id").persist()
    docs3 = docs2.join(survivors, "doc_id")
    n_quality = docs3.count()

    # 4. chunk for retrieval
    chunks = textops.chunk_overlap(docs3, size=args.size,
                                   stride=args.stride)
    n_chunks = chunks.count()

    # 5. pack for training
    packed = textops.pack_sequences(docs3, budget=args.budget)
    n_seqs = int(packed.agg(F.max("last_seq")).first()[0] or -1) + 1

    print(json.dumps({
        "corpus": args.corpus, "raw_docs": n_raw,
        "after_exact_dedup": n_exact, "after_neardup": n_neardup,
        "after_quality": n_quality, "chunks": n_chunks,
        "packed_sequences": n_seqs, "wall_sec": round(time.time() - t0, 2),
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
