"""Near-real-time incremental indexing — Structured Streaming foreachBatch.

The reference's NRT story (public knowledge: Lucene soft commits /
DirectoryReader.openIfChanged, Solr CommitTracker + UpdateLog replay,
TopicStream incremental pull — SURVEY.md §2.12) maps onto Structured
Streaming:

  micro-batch            == one new index "generation": per-doc-range
                            postings segments + manifest rows (a segment
                            flush), written through the same checkpointed
                            invert path as the batch build
  commit / visibility    == merge() folds the new ranges' manifests into
                            stats.json and rebuilds the term dictionary —
                            Lucene's commit point. Segments are never
                            rewritten, so a commit costs the dictionary,
                            not the index
  UpdateLog / replay     == Spark streaming checkpointDir: exactly-once
                            per-batch file sink semantics; a crashed batch
                            re-runs and idempotently overwrites its ranges
  TopicStream versions   == source offsets tracked by the checkpoint

Constraint carried over from the batch build: incoming docs must carry a
deterministic, dense ``doc_id`` (dense-rank assignment is a batch-time
concern; streams append strictly increasing ids, e.g. from the upstream
log offset), and a doc range should be touched by ONE generation — give
each micro-batch its own id range (append-only corpora do this naturally).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession

from sparklucene.build import IndexPaths, _manifests, invert, merge
from sparklucene.corpus import CORPUS_COLS, with_drange


def start_incremental_index(stream: DataFrame, index_dir: str,
                            drange_size: int, checkpoint_dir: str,
                            compact_every: int = 1,
                            trigger: dict[str, Any] | None = None,
                            analyzer=None, extra_fields: tuple = ()):
    """Start a streaming query that indexes arriving docs incrementally.

    ``stream`` — a streaming DataFrame with the corpus shape (must include
    doc_id + content). Every micro-batch flushes its ranges' segments;
    every ``compact_every`` batches, a commit folds them into the global
    stats and the term dictionary.

    The one-generation-per-range constraint (module docstring) is ENFORCED,
    not just documented: each batch's manifests record its ``batch_id``,
    and a batch that contains docs for a range completed by a *different*
    batch fails fast (silently re-skipping the range would drop those docs
    and undercount stats). A crashed batch replaying under the same
    batch_id still resumes idempotently.
    Returns the StreamingQuery (caller owns awaitTermination/stop).
    """
    spark = stream.sparkSession

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        cols = [c for c in CORPUS_COLS if c in batch_df.columns]
        batch = batch_df.select(*cols)
        if not batch.take(1):
            return
        paths = IndexPaths(index_dir)
        done = _manifests(paths)
        if done:
            branges = {r["drange"] for r in
                       with_drange(batch.select("doc_id"), drange_size)
                       .select("drange").distinct().collect()}
            conflicts = sorted(
                dr for dr in branges & set(done)
                if done[dr].get("batch_id") != int(batch_id))
            if conflicts:
                raise ValueError(
                    f"micro-batch {batch_id} carries docs for doc-ranges "
                    f"{conflicts[:8]}{'...' if len(conflicts) > 8 else ''} "
                    "already built by an earlier batch; a doc range must be "
                    "fully contained in one micro-batch (give each batch "
                    "its own contiguous id range, or rebuild with a "
                    "drange_size that divides the batch boundaries)")
        invert(batch, paths, drange_size, resume=True,
               lineage={"batch_id": int(batch_id)}, analyzer=analyzer,
               extra_fields=extra_fields)
        if compact_every and batch_id % compact_every == compact_every - 1:
            merge(spark, IndexPaths(index_dir), drange_size)

    writer = (stream.writeStream
              .foreachBatch(process_batch)
              .option("checkpointLocation", checkpoint_dir))
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()


def index_stream_once(spark: SparkSession, source_dir: str, schema: str,
                      index_dir: str, drange_size: int,
                      checkpoint_dir: str, analyzer=None,
                      extra_fields: tuple = ()) -> None:
    """Drain a file-source stream with availableNow (TopicStream-style
    catch-up pull), then commit so readers see one fresh generation."""
    stream = (spark.readStream.schema(schema).parquet(source_dir))
    q = start_incremental_index(stream, index_dir, drange_size,
                                checkpoint_dir, compact_every=0,
                                trigger={"availableNow": True},
                                analyzer=analyzer,
                                extra_fields=extra_fields)
    q.awaitTermination()
    merge(spark, IndexPaths(index_dir), drange_size)


def windowed_event_counts(events: DataFrame, ts_col: str = "ts",
                          window: str = "1 hour",
                          watermark: str = "30 minutes",
                          by: tuple = ("event_type",)) -> DataFrame:
    """Tumbling-window event rollup with late-data policy — the
    Structured Streaming half of the daemon/timeseries story (public
    knowledge: Solr's daemon+rollup streaming expressions and Spark's
    documented watermark + windowed-aggregation pattern): per
    (window, group) counts and value sums, where a STREAMING input
    drops events arriving later than ``watermark`` behind the observed
    event-time maximum — exactly-once, bounded state. The SAME function
    on a batch DataFrame computes the complete (no-late-drop)
    aggregation, which is what the equality tests and the batch oracle
    (``events_time_window_agg``) pin.

    Scale shape: the window expression is a narrow derivation; the agg
    is a standard partial+final hash agg keyed by (window, group);
    streaming state is bounded by watermark horizon × group cardinality.
    """
    from pyspark.sql import functions as F

    src = (events.withWatermark(ts_col, watermark)
           if events.isStreaming else events)
    return (src.groupBy(F.window(F.col(ts_col), window).alias("win"), *by)
            .agg(F.count(F.lit(1)).cast("long").alias("n"),
                 F.sum("value").alias("sum_value"))
            .select(F.col("win.start").alias("win_start"),
                    F.col("win.end").alias("win_end"),
                    *by, "n", "sum_value"))


FOLLOWUP_SCHEMA = "user_id long, view_ts timestamp, purchase_ts timestamp"


def detect_followups(events: DataFrame, first: str = "view",
                     then: str = "purchase", within: str = "24 hours",
                     by: str = "user_id", ts_col: str = "ts",
                     type_col: str = "event_type") -> DataFrame:
    """Sequence detection, batch form — "A followed by B within T" per
    group (the CEP capability event-log users build over Solr streams):
    for every ``then`` event, the MOST RECENT ``first`` event of the same
    group at a strictly earlier (ts, type)-order position, kept when the
    gap is <= ``within``. Tie pin: events sort by (ts, event_type), so an
    equal-timestamp ``first`` does NOT precede the ``then`` event.

    Scale shape: one window over each group's (tiny) event stream —
    partial sort within user partitions, no self-join, no doc×doc.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    ev = events.filter(F.col(type_col).isin([first, then])) \
        .select(by, ts_col, type_col)
    w = (Window.partitionBy(by).orderBy(F.col(ts_col).asc(),
                                        F.col(type_col).asc())
         .rowsBetween(Window.unboundedPreceding, -1))
    lastv = F.last(F.when(F.col(type_col) == first, F.col(ts_col)),
                   ignorenulls=True).over(w)
    return (ev.withColumn("_lv", lastv)
            .filter((F.col(type_col) == then) & F.col("_lv").isNotNull()
                    & (F.col("_lv")
                       >= F.col(ts_col) - F.expr(f"INTERVAL {within}")))
            .select(F.col(by).alias("user_id"),
                    F.col("_lv").alias("view_ts"),
                    F.col(ts_col).alias("purchase_ts")))


def detect_followups_stream(events: DataFrame, first: str = "view",
                            then: str = "purchase",
                            within: str = "24 hours",
                            by: str = "user_id", ts_col: str = "ts",
                            type_col: str = "event_type") -> DataFrame:
    """Streaming form of :func:`detect_followups` via
    ``applyInPandasWithState`` — the custom-stateful-operator pattern the
    engine pins for semantics Spark's built-in streaming aggregates can't
    express. Per-group state is ONE timestamp (the latest ``first`` event
    seen), so state is O(groups) regardless of stream length; rows within
    each micro-batch are processed in (ts, type) order, and cross-batch
    correctness assumes event-time-ordered arrival per group (the
    append-only-log shape the NRT indexer also assumes).
    """
    import datetime as _dt

    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout

    horizon = pd.to_timedelta(within)

    def fn(key, pdfs, state):
        last = state.get[0] if state.exists else None
        if last is not None and isinstance(last, (int, float)):
            last = _dt.datetime.fromtimestamp(last / 1e6)
        out = []
        for pdf in pdfs:
            pdf = pdf.sort_values([ts_col, type_col])
            for ts, tp in zip(pdf[ts_col], pdf[type_col]):
                if tp == first:
                    last = ts.to_pydatetime() if hasattr(ts, "to_pydatetime") else ts
                elif tp == then and last is not None \
                        and (ts - pd.Timestamp(last)) <= horizon:
                    out.append((key[0], last, ts))
        if last is not None:
            state.update((int(pd.Timestamp(last).value // 1000),))
        if out:
            yield pd.DataFrame(out,
                               columns=["user_id", "view_ts", "purchase_ts"])

    ev = events.filter(F.col(type_col).isin([first, then])) \
        .select(by, ts_col, type_col)
    return ev.groupBy(by).applyInPandasWithState(
        fn, FOLLOWUP_SCHEMA, "last_first_us long", "append",
        GroupStateTimeout.NoTimeout)
