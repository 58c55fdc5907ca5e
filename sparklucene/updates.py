"""Atomic document updates — Solr's partial-update model on DataFrames.

The reference accepts partial updates (public knowledge:
``u8:solr/core/.../update/processor/AtomicUpdateDocumentMerger.java``,
``DistributedUpdateProcessor``): ``{"id": X, "field": {"set": v}}`` /
``{"inc": n}`` fetch the stored document, merge the field operations, and
REINDEX the merged document (delete + add — Lucene has no in-place field
update). This module pins the same two halves:

1. :func:`apply_atomic_updates` — the AtomicUpdateDocumentMerger: a pure
   relational merge of an update batch into the corpus (one broadcast
   left join; ``set`` replaces, ``inc`` adds). The corpus relation is
   the engine's stored-fields store, so this IS the stored-doc fetch +
   merge. ``add``/``remove`` (multivalued) are rejected: the corpus
   model has no multivalued fields (documented scope limit).
2. :func:`update_index` — the reindex half: drop the manifest entries
   of exactly the doc-range segments containing updated docs, re-invert
   only those ranges from the updated corpus (each segment, docmeta and
   termstats file is replaced in place by an atomic rename, so every
   range stays readable throughout), and commit. Updated
   docs also leave the deletions table (the reference re-adds the merged
   doc under the same id, which un-hides it).

Scale shape: the update batch is request-scale (the reference processes
updates per request too) — the merged corpus costs one broadcast join;
the re-invert reads ONLY the affected ranges (narrow drange predicate
pushed into the corpus scan); the commit re-aggregates the vocab-sized
term dictionary and touches no posting bytes. Affected-range discovery
never scans data — it is doc_id integer arithmetic on the request batch.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparklucene.build import (IndexPaths, _COMPACTED_MANIFESTS, invert,
                               _require_current_format, load_stats, merge)

_OPS = ("set", "inc", "add", "add-distinct", "remove")


def apply_atomic_updates(corpus: DataFrame, updates: DataFrame,
                         ops: dict[str, str],
                         id_col: str = "doc_id") -> DataFrame:
    """Merge an update batch into the corpus relation.

    ``updates`` carries ``doc_id`` plus one column per updated field; a
    NULL in an update column leaves that doc's field untouched (the
    reference's per-field op granularity). ``ops`` maps each update
    column -> ``"set"`` (replace) or ``"inc"`` (numeric add). Rows of
    ``corpus`` not in the batch pass through unchanged; update rows for
    unknown doc_ids are ignored (the reference would create a new doc —
    creation goes through the normal indexing path here, documented).

    Multivalued (array-typed) fields support the reference's remaining
    ops (u8:solr/core/.../update/processor/AtomicUpdateDocumentMerger
    .java): ``"add"`` (append, duplicates kept), ``"add-distinct"``
    (append values not already present, update order) and ``"remove"``
    (delete every occurrence of each listed value).
    """
    bad = [o for o in ops.values() if o not in _OPS]
    if bad:
        raise ValueError(f"unsupported atomic ops {bad}; "
                         f"supported: {_OPS}")
    missing = [c for c in ops if c not in updates.columns]
    if missing:
        raise ValueError(f"update batch lacks columns {missing}")
    up = updates.select(
        id_col, *[F.col(c).alias(f"_up_{c}") for c in ops])
    # one row per doc per batch is the contract: the merge is a
    # relational left join, so a duplicated update id would DUPLICATE
    # corpus rows with arbitrary winners (DataFrame row order is
    # undefined, so "apply in request order" is not implementable for a
    # batch — the reference serializes such updates as separate
    # requests; send separate batches here). The guard is one
    # batch-proportional aggregation, never corpus-scale.
    dup = (up.groupBy(id_col).count().filter(F.col("count") > 1)
           .limit(5).collect())
    if dup:
        raise ValueError(
            "update batch has multiple rows for doc_id(s) "
            f"{sorted(r[id_col] for r in dup)} — atomic batch merge "
            "needs one row per doc; apply sequential updates as "
            "separate batches")
    out = corpus.join(F.broadcast(up), id_col, "left")
    merged = []
    for c in corpus.columns:
        if c == id_col or c not in ops:
            merged.append(F.col(c))
        elif ops[c] == "set":
            merged.append(F.coalesce(F.col(f"_up_{c}"), F.col(c)).alias(c))
        elif ops[c] == "inc":
            merged.append((F.col(c)
                           + F.coalesce(F.col(f"_up_{c}"),
                                        F.lit(0)).cast(corpus.schema[c]
                                                       .dataType))
                          .alias(c))
        elif ops[c] == "add":
            # multivalued append (u8:solr/core/.../update/processor/
            # AtomicUpdateDocumentMerger.java doAdd): update values
            # concatenate AFTER the existing ones, duplicates kept
            merged.append(
                F.when(F.col(f"_up_{c}").isNull(), F.col(c))
                .otherwise(F.concat(F.col(c), F.col(f"_up_{c}")))
                .alias(c))
        elif ops[c] == "add-distinct":
            # doAddDistinct: append only values not already present,
            # in update order. The reference checks against the
            # collection AS IT GROWS, so a value repeated within one
            # update array is appended once — array_distinct keeps the
            # first occurrence (round-4 advisory).
            up_c = F.array_distinct(F.col(f"_up_{c}"))
            missing = F.filter(
                up_c, lambda u: ~F.exists(F.col(c), lambda v: v == u))
            merged.append(
                F.when(up_c.isNull(), F.col(c))
                .otherwise(F.concat(F.col(c), missing)).alias(c))
        else:  # remove
            # doRemove: delete EVERY occurrence of each listed value
            up_c = F.col(f"_up_{c}")
            kept = F.filter(
                F.col(c), lambda v: ~F.exists(up_c, lambda u: u == v))
            merged.append(
                F.when(up_c.isNull(), F.col(c)).otherwise(kept).alias(c))
    # `merged` was built by iterating corpus.columns, so the projection
    # preserves the corpus schema (order and names) exactly
    return out.select(*merged)


def _undelete(spark: SparkSession, dele_path: str,
              doc_ids: list[int]) -> None:
    """Drop ``doc_ids`` from the deletes table without ever leaving the
    directory short of the other deletes: the kept rows are written to a
    sibling temp dir and renamed INTO ``deletes/`` one file at a time,
    and only then are the files listed before the write unlinked. A
    reader (or a crash) at any point sees every delete outside
    ``doc_ids``; rerunning completes the un-delete."""
    old = sorted(os.listdir(dele_path))
    dele = spark.read.parquet(*[os.path.join(dele_path, f) for f in old
                                if f.endswith(".parquet")])
    upd = spark.createDataFrame([(int(d),) for d in sorted(set(doc_ids))],
                                "doc_id long")
    kept = dele.join(F.broadcast(upd), "doc_id", "left_anti")
    tmp = f"{dele_path}.tmp-{os.getpid()}"
    kept.coalesce(max(1, kept.rdd.getNumPartitions() // 4)) \
        .write.mode("overwrite").parquet(tmp)
    for f in sorted(os.listdir(tmp)):
        if f.endswith(".parquet"):
            os.replace(os.path.join(tmp, f), os.path.join(dele_path, f))
    for f in old:
        os.unlink(os.path.join(dele_path, f))
    shutil.rmtree(tmp)


def update_index(spark: SparkSession, new_corpus: DataFrame,
                 index_dir: str, doc_ids: list[int],
                 stopwords=None, store_positions: bool = True,
                 analyzer=None, extra_fields: tuple = (),
                 payloads: str | None = None) -> dict:
    """Reindex the doc-range segments containing ``doc_ids`` from the
    (already merged) ``new_corpus``, then commit. Analyzer/build
    options must match the original build (same contract as resume).
    Returns the refreshed stats dict.

    Un-deleting the updated docs never leaves ``deletes/`` without the
    other deletes (see :func:`_undelete`), so a crash midway loses none
    and a rerun completes it. A handle that already listed the old
    deletes files still fails its next query, until the index has a
    commit point (ROADMAP direction 4)."""
    from sparklucene.analysis import ENGLISH_STOP_WORDS

    paths = IndexPaths(index_dir)
    stats = load_stats(index_dir)
    drs = int(stats["drange_size"])
    dranges = sorted({int(d) // drs for d in doc_ids})
    if not dranges:
        return stats
    _require_current_format(paths)
    # 1. forget the affected ranges' manifests, so the re-invert below
    # rebuilds them; their files stay readable until it replaces them
    for dr in dranges:
        mp = os.path.join(paths.manifest_dir, f"part-{dr:06d}.json")
        if os.path.exists(mp):
            os.unlink(mp)
    comp = os.path.join(paths.manifest_dir, _COMPACTED_MANIFESTS)
    if os.path.isfile(comp):
        keep = []
        with open(comp) as fh:
            for line in fh:
                if line.strip() and json.loads(line)["drange"] not in dranges:
                    keep.append(line)
        tmp = f"{comp}.tmp-{os.getpid()}"
        with open(tmp, "w") as fh:
            fh.writelines(keep)
        os.replace(tmp, comp)
    # 2. re-invert ONLY the affected ranges: the drange predicate is
    # doc_id arithmetic, so it pushes into the corpus scan
    sub = new_corpus.filter(
        (F.col("doc_id") / F.lit(drs)).cast("int").isin(dranges))
    built = invert(sub, paths, drs,
                   stopwords if stopwords is not None else ENGLISH_STOP_WORDS,
                   resume=True, store_positions=store_positions,
                   analyzer=analyzer, extra_fields=extra_fields,
                   payload_mode=payloads)
    # a range the new corpus no longer has docs in got no new files:
    # remove its old ones
    rebuilt = {int(d) for d in built.loc[built["status"] == "built", "drange"]}
    for dr in set(dranges) - rebuilt:
        for p in (os.path.join(paths.postings, f"postings-{dr:06d}.parquet"),
                  os.path.join(paths.partials, f"docmeta-{dr:06d}.parquet"),
                  os.path.join(paths.partials, f"termstats-{dr:06d}.parquet")):
            if os.path.exists(p):
                os.unlink(p)
    # 3. updated docs are re-added under their ids -> no longer deleted
    dele_path = os.path.join(index_dir, "deletes")
    if os.path.isdir(dele_path):
        _undelete(spark, dele_path, doc_ids)
    # 4. commit: term dictionary + stats
    return merge(spark, paths, drs,
                 extra_meta={"payloads": payloads} if payloads else None)
